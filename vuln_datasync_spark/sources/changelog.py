"""Changelog sources — batch and streaming readers for the change-event log.

The reference pulls from three HTTP/git/GCS sources (S1-S10); the engine's
ingress is a changelog directory (parquet or JSON) standing in for an
Iceberg/Kafka changelog. Schema is always explicit (no inference at scale);
files written before a column existed read back as null (parquet clipping =
free column-add on the read side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CHANGELOG_DDL = (
    "commit_seq long, op string, repo string, path string, commit string, "
    "lang string, content string, ts timestamp, size_bytes long"
)


def changelog_schema() -> T.StructType:
    return T.StructType.fromDDL(CHANGELOG_DDL)


def read_changelog_batch(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    since_seq: int | None = None,
) -> DataFrame:
    """Batch read, optionally incremental from a sequence watermark
    (reference analog: `updated_at >= $1`,
    /root/reference/sql/vulnerabilities.sql:128-132)."""
    reader = spark.read.schema(changelog_schema())
    df = reader.parquet(path) if fmt == "parquet" else reader.json(path)
    if since_seq is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("commit_seq") > since_seq)
    return df


def read_changelog_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming tail with rate control (reference analog: fixed-size batch
    callback, /root/reference/internal/fetchers/osv/fetcher.go:729-778)."""
    reader = spark.readStream.schema(changelog_schema())
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path) if fmt == "parquet" else reader.json(path)


def read_changelog_with_fallback(
    spark: SparkSession,
    paths: list[str],
    fmt: str = "parquet",
    since_seq: int | None = None,
) -> DataFrame:
    """S3 fallback chooser: try sources in priority order, degrade
    gracefully to the next when one is absent/unreadable (reference:
    GCS -> HTTP fallback, /root/reference/internal/fetchers/osv/
    fetcher.go:115-133). The first source that both exists and yields a
    readable frame wins; exhausting the list raises the LAST error, like
    the reference's final download failure."""
    last_err: Exception | None = None
    for p in paths:
        try:
            df = read_changelog_batch(spark, p, fmt=fmt, since_seq=since_seq)
            df.schema  # force source resolution (cheap; no data scan)
            # a source that resolves but lists no files is "absent"
            if not df.inputFiles():
                raise FileNotFoundError(f"no files under {p}")
            return df
        except Exception as e:  # noqa: BLE001 - mirror reference degrade
            last_err = e
            continue
    raise last_err if last_err else FileNotFoundError("no sources given")


def compact_changelog(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    upto_seq: int | None = None,
    retain_tombstones: bool = True,
    fmt: str = "parquet",
    n_files: int | None = None,
) -> dict:
    """Kafka-style log compaction: rewrite the changelog keeping only
    each key's WINNING event at ``upto_seq`` (or the whole log).

    Replay invariant (the test contract): for any split point S,
    ``replay(compact(log, S) ++ log[seq > S]) == replay(log)`` — a
    consumer bootstrapping from the compacted prefix plus the live tail
    reconstructs exactly the state a full-history replay yields. With
    ``retain_tombstones=False`` delete-winners are dropped too (valid
    ONLY for consumers starting from EMPTY state; a consumer that
    already holds the key would never see the retraction — same rule as
    Kafka's delete.retention.ms=0).

    Scale shape: one LWW reduce over the log (the engine's one window
    resolver, as in ingest; an exact tie resolves on a content hash, the
    same at any partitioning), output ∝ live keys, never ∝ history
    length. The compacted dir carries a ``_COMPACT.json`` marker recording
    upto_seq so incremental readers know where the tail begins (read the
    tail with ``read_changelog_batch(since_seq=upto_seq)``).

    Reference analog: vuln-datasync re-fetches full dumps per sync
    (internal/fetchers/osv/fetcher.go) — compaction is what makes a
    10^10-event log re-bootstrappable without replaying dead history.
    """
    import json
    import os

    from pyspark.sql import functions as F

    from ..operators.lww import lww_resolve

    events = read_changelog_batch(spark, log_dir, fmt=fmt)
    if upto_seq is not None:
        events = events.filter(F.col("commit_seq") <= upto_seq)
    winners = lww_resolve(events)
    if not retain_tombstones:
        winners = winners.filter(F.col("op") != "delete")
    # deterministic layout: order by key so reruns produce stable files
    writer = winners.orderBy("repo", "path")
    if n_files:
        writer = writer.repartition(n_files)
    writer.write.mode("overwrite").parquet(out_dir)
    out = spark.read.parquet(out_dir)
    stats = out.agg(
        F.count("*").alias("rows"),
        F.max("commit_seq").alias("max_seq"),
        F.count(F.when(F.col("op") == "delete", 1)).alias("tombstones"),
    ).collect()[0]
    marker = {
        "upto_seq": upto_seq if upto_seq is not None
        else (int(stats["max_seq"]) if stats["max_seq"] is not None else 0),
        "rows": int(stats["rows"]),
        "tombstones": int(stats["tombstones"]),
        "retain_tombstones": retain_tombstones,
    }
    with open(os.path.join(out_dir, "_COMPACT.json"), "w") as f:
        json.dump(marker, f)
    return marker
