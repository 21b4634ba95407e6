"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship CDC replay on a deterministic synthetic changelog
                  (engine path: normalize -> LWW, one window resolver
                  where the earliest arrival wins a tie -> manifest MERGE),
                  returning per-repo final-state stats + content checksums.
queries()       — one entry per catalog operator, the CDC engine's among them
                  (catalog: vuln_datasync_spark/plans/queries.py).
oracle_sql()    — matching DuckDB SQL for the driver's correctness gate.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vuln_datasync_spark.plans.queries import oracle_sql_map, query_map


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: replay a deterministic changelog through the full engine
    (vectorized normalize -> LWW reduce -> snapshot MERGE sink) and return
    per-repo final-state stats with a sha256 content checksum."""
    from vuln_datasync_spark.datagen import (
        generate_changelog_pandas,
        write_changelog,
    )
    from vuln_datasync_spark.plans.queries import ensure_shipped
    from vuln_datasync_spark.sinks import ManifestTable
    from vuln_datasync_spark.streaming import apply_batch

    ensure_shipped(spark)  # workers need the package for pandas UDFs

    work = tempfile.mkdtemp(prefix="vds_entry_")
    ev = generate_changelog_pandas(6000, seed=42)
    files = write_changelog(ev, os.path.join(work, "log"), n_files=3)
    schema = (
        "commit_seq long, op string, repo string, path string, commit string, "
        "lang string, content string, ts timestamp, size_bytes long"
    )
    table = ManifestTable.create(spark, os.path.join(work, "table"), n_buckets=16)
    for i, f in enumerate(files):
        apply_batch(spark.read.schema(schema).parquet(f), table, "entry", i)

    final = table.read()
    return (
        final.groupBy("repo")
        .agg(
            F.count("*").alias("n_files"),
            F.max("commit_seq").alias("max_seq"),
            F.sum(F.length("content")).alias("total_bytes"),
            # order-insensitive checksum over per-row sha256(content)
            F.sum(
                F.conv(F.substring("content_sha256", 1, 15), 16, 10).cast(
                    "decimal(38,0)"
                )
            ).alias("content_checksum"),
        )
        .orderBy("repo")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per catalog operator, keyed by name."""
    return query_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query; rows-only entries omitted."""
    return oracle_sql_map()
