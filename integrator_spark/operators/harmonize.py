"""Harmonization & data-integration operators — the reference's own core
(SURVEY.md §1: rule-driven mapping of messy source values onto
standardized code lists, with per-row provenance, followed by
integrity validation of the integrated output).

Spark mapping: a rule set is a small DataFrame (source_value →
canonical_value, rule_id), applied with a broadcast join — the 100 TB
posture is one map-side join, no shuffle of the fact table. Provenance
(PROV-O in the reference) becomes plain lineage columns carried through
the plan; integrity constraints become assertion queries unioned into a
single (check_name, n_violations) report.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


RULE_COLUMNS = ("src_value", "canonical", "rule_id")


def rules_frame(spark: SparkSession,
                rules: list[tuple[str, str, str]]) -> DataFrame:
    """Build a rule DataFrame from (source_value, canonical_value,
    rule_id) triples — rules are data, exactly as in the reference.

    The triples go in as an Arrow table with an explicit string schema,
    so the frame plans as a ``LocalTableScan`` (below
    ``spark.sql.execution.arrow.localRelationThreshold``) and reading it
    starts no job; a list of tuples would become a scan of a
    parallelized RDD, one Python-worker job per use."""
    import pyarrow as pa

    schema = pa.schema([(c, pa.string()) for c in RULE_COLUMNS])
    table = pa.Table.from_pylist([dict(zip(RULE_COLUMNS, r)) for r in rules],
                                 schema=schema)
    return spark.createDataFrame(table)


def apply_rules(df: DataFrame, rules: DataFrame, src_col: str,
                out_col: str = "canonical",
                unmapped: str = "__unmapped__") -> DataFrame:
    """Harmonize ``src_col`` against a broadcast rule table.

    Adds ``out_col`` (canonical value, or the ``unmapped`` sentinel) and
    ``rule_id`` (provenance: which rule fired, null if none).
    """
    r = F.broadcast(rules.select(F.col("src_value").alias("_rule_src"),
                                 F.col("canonical").alias("_rule_canonical"),
                                 "rule_id"))
    joined = df.join(r, df[src_col] == F.col("_rule_src"), "left")
    return (joined
            .withColumn(out_col,
                        F.coalesce(F.col("_rule_canonical"), F.lit(unmapped)))
            .drop("_rule_canonical", "_rule_src"))


def with_lineage(df: DataFrame, batch_id: str) -> DataFrame:
    """Attach provenance columns: originating file + processing batch."""
    return (df
            .withColumn("source_file",
                        F.element_at(F.split(F.input_file_name(), "/"), -1))
            .withColumn("batch_id", F.lit(batch_id)))


def assertion_report(checks: dict[str, DataFrame]) -> DataFrame:
    """Union named violation queries into one (check_name, n_violations)
    report — the engine's analog of the RDF Data Cube well-formedness
    (integrity-constraint) validation the reference runs post-load."""
    parts = [df.agg(F.count(F.lit(1)).alias("n_violations"))
             .select(F.lit(name).alias("check_name"), "n_violations")
             for name, df in checks.items()]
    return reduce(lambda a, b: a.unionByName(b), parts)
