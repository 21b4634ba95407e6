"""Streaming training-corpus ingestion with INCREMENTAL dedup gating.

The batch corpus pipeline (``pipelines/corpus_prep.py``) prices every run
at a full pass over the corpus; a 100 TB corpus that grows by micro-batch
must instead dedup each arriving batch against everything already
ingested WITHOUT re-signaturing the corpus. This module composes the
engine's existing pieces into that tail:

    readStream (document drop dir)
      → dedup gate per micro-batch:
          1. exact dedup within the batch (sha256, keep min id)
          2. within-batch near-dup clusters (MinHash-LSH candidates ≥
             threshold → connected components → canonical keepers)
          3. cross-corpus probe of the PERSISTED minhash index
             (``operators/dedup_index.py`` — reads only the batch's own
             (band, pfx) partitions; I/O ∝ batch, never corpus)
      → ManifestTable MERGE keyed by doc id (snapshot-isolated,
        (checkpoint_id, batch_id) epoch ledger → exactly-once)
      → fold the survivors' signature rows into the index
        (touched-partition dynamic overwrite, idempotent per id)

Replay safety (a micro-batch can re-run after a crash anywhere):
* stages 1–2 depend only on batch content — index state never changes
  their verdict;
* stage 3 ignores matches whose corpus-side id belongs to THIS batch, so
  a replayed batch that already upserted its survivors into the index
  cannot drop them against their own index copies;
* the table MERGE no-ops on a committed epoch; the index upsert replaces
  rows by id, so re-running it is a no-op too.

Reference analog: the reference's per-record dedup probe against its
store (/root/reference/internal/merger/merger.go:46-71 alias-cache scan
per sync run) — restated so per-batch cost is ∝ batch, not store.
"""

from __future__ import annotations

import glob
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_lsh_candidates,
)
from ..operators.dedup_index import (
    build_minhash_index,
    dedup_against_index,
    upsert_minhash_index,
)
from ..sinks.manifest_table import ManifestTable

logger = logging.getLogger(__name__)

DOC_STREAM_DDL = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _index_exists(index_path: str) -> bool:
    return bool(glob.glob(os.path.join(index_path, "band=*")))


def create_corpus_table(
    spark: SparkSession, root: str, n_buckets: int = 32
) -> ManifestTable:
    return ManifestTable.create(
        spark, root, n_buckets=n_buckets, key_cols=("doc_id",)
    )


def dedup_gate(
    batch: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int | None = 2000,
) -> tuple[DataFrame, dict]:
    """Filter a micro-batch down to the documents worth keeping. Returns
    (kept_docs, stats). Deterministic for a given (batch, foreign-corpus)
    pair — see module docstring for why replays converge."""
    n_input = batch.count()
    # one row per id FIRST (a drop dir can deliver the same doc twice in
    # one micro-batch): deterministic pick = max content hash per id, so
    # the MERGE below always sees one winner per key
    w = W.partitionBy(id_col).orderBy(F.desc(F.sha2(F.col(text_col), 256)))
    batch = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # exact dedup feeds three consumers (candidate pairs, the verdict
    # join, the index probe) — materialize once
    exact = exact_dedup(batch, text_col, id_col).localCheckpoint(eager=True)
    near = minhash_lsh_candidates(
        exact,
        text_col,
        id_col,
        k=k,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
    ).filter(F.col("est_jaccard") >= threshold)
    verdict = dedup_clusters(near, all_ids=exact, id_col=id_col)
    keepers = exact.join(
        verdict.filter("is_keeper").select(id_col), id_col, "left_semi"
    )
    if _index_exists(index_path):
        hits = dedup_against_index(
            keepers,
            text_col,
            id_col,
            index_path,
            k=k,
            bands=bands,
            shingle_k=shingle_k,
            max_bucket_size=max_bucket_size,
            threshold=threshold,
        )
        # matches whose corpus-side doc is from THIS batch are replay
        # artifacts (our own survivors, already upserted) — ignore them
        batch_ids = batch.select(F.col(id_col).alias("dup_id")).distinct()
        foreign = (
            hits.join(batch_ids, "dup_id", "left_anti")
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        kept = keepers.join(foreign, id_col, "left_anti")
    else:
        kept = keepers
    kept = kept.localCheckpoint(eager=True)  # feeds MERGE + index upsert
    n_kept = kept.count()
    stats = {"n_input": n_input, "n_kept": n_kept,
             "n_dropped": n_input - n_kept}
    logger.info("dedup_gate: %s", stats)
    return kept, stats


def ingest_documents(
    table: ManifestTable,
    batch: DataFrame,
    index_path: str,
    checkpoint_id: str = "adhoc",
    batch_id: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int | None = 2000,
) -> tuple[dict | None, dict]:
    """One micro-batch: gate → exactly-once MERGE → index fold. Returns
    (lineage, gate_stats); lineage is None when the epoch was already
    committed (the index fold still runs — it is idempotent, and a crash
    AFTER the table commit must not leave the index missing the batch)."""
    kept, stats = dedup_gate(
        batch,
        index_path,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        k=k,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
    )
    winners = (
        kept.withColumn("commit_seq", F.lit(int(batch_id)).cast("long"))
        .withColumn("commit", F.sha2(F.col(text_col), 256))
        .withColumn("op", F.lit("insert"))
    )
    lineage = table.merge(winners, checkpoint_id, batch_id)
    if stats["n_kept"] > 0:
        if _index_exists(index_path):
            upsert_minhash_index(
                kept, text_col, id_col, index_path,
                k=k, bands=bands, shingle_k=shingle_k,
            )
        else:
            build_minhash_index(
                kept, text_col, id_col, index_path,
                k=k, bands=bands, shingle_k=shingle_k,
            )
    return lineage, stats


def run_corpus_stream(
    spark: SparkSession,
    incoming_dir: str,
    table_root: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str = DOC_STREAM_DDL,
    max_files_per_trigger: int | None = None,
    on_batch=None,
    await_termination: bool = True,
    **gate_kwargs,
):
    """The corpus-dedup pipeline as a resumable micro-batch tail over a
    drop directory of document parquet files (same construction as the
    CDC ``streaming/pipeline.py run_stream``): offsets live in
    the checkpoint, ``trigger(availableNow=True)`` drains and stops, and
    the sink's epoch ledger + the gate's replay-safe construction make a
    crash anywhere in a batch replay to the identical state."""
    from ..streaming.pipeline import checkpoint_identity

    if os.path.exists(os.path.join(table_root, "_table.json")):
        table = ManifestTable(spark, table_root)
    else:
        table = create_corpus_table(spark, table_root)
    ckpt_id = checkpoint_identity(checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int):
        lineage, stats = ingest_documents(
            table,
            batch_df,
            index_path,
            checkpoint_id=ckpt_id,
            batch_id=batch_id,
            **gate_kwargs,
        )
        if on_batch is not None:
            on_batch(batch_id, lineage, stats)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    query = (
        reader.parquet(incoming_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not await_termination:
        return table, query
    query.awaitTermination()
    return table
