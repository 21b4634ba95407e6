"""Streaming corpus ingest with incremental dedup gating: within-batch
exact + near-dup dedup, cross-corpus index probe, exactly-once MERGE,
idempotent index fold, crash/resume."""

import os
import time

import pytest
from pyspark.sql import functions as F

from vuln_datasync_spark.pipelines.corpus_stream import (
    DOC_STREAM_DDL,
    create_corpus_table,
    ingest_documents,
    run_corpus_stream,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the storm rolls "
    "in across the valley and every scanner in the fleet reports the "
    "same checksum for the same block of source text over and over "
)
UNIQ_A = (
    "completely different subject matter about distributed query "
    "planning, shuffle partitioning and broadcast join thresholds in a "
    "columnar execution engine with adaptive re-optimization enabled "
)
UNIQ_B = (
    "a third topic entirely: watermark semantics for late-arriving "
    "events in stateful stream processing, with idle-timeout state "
    "retirement and epoch-tagged exactly-once sink commits throughout "
)

B1 = [
    (1, BASE, "en", "web", len(BASE)),
    (2, UNIQ_A, "en", "web", len(UNIQ_A)),
    (3, BASE + "with a tiny extra tail", "en", "web", len(BASE) + 22),
    (4, UNIQ_A, "en", "mirror", len(UNIQ_A)),  # exact dup of 2
]
B2 = [
    (10, BASE + "another small suffix", "en", "web", len(BASE) + 20),
    (11, UNIQ_B, "en", "web", len(UNIQ_B)),
    (12, UNIQ_A, "en", "mirror", len(UNIQ_A)),  # exact text of foreign 2
]


def _df(spark, rows):
    return spark.createDataFrame(rows, DOC_STREAM_DDL)


def test_gate_merge_and_index_fold(spark, tmp_path):
    table = create_corpus_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    idx = str(tmp_path / "idx")

    lin1, st1 = ingest_documents(
        table, _df(spark, B1), idx, checkpoint_id="c", batch_id=0
    )
    assert lin1 is not None and st1["n_input"] == 4
    kept1 = {r["doc_id"] for r in table.read().collect()}
    # 4 = exact dup of 2 (within-batch), 3 = near-dup of 1 (keeper = min id)
    assert kept1 == {1, 2}, kept1

    lin2, st2 = ingest_documents(
        table, _df(spark, B2), idx, checkpoint_id="c", batch_id=1
    )
    assert lin2 is not None
    kept = {r["doc_id"] for r in table.read().collect()}
    # 10 near-dups foreign 1; 12 is byte-identical to foreign 2
    assert kept == {1, 2, 11}, kept

    # the index holds exactly the survivors
    idx_ids = {
        r["id"] for r in spark.read.parquet(idx).select("id").collect()
    }
    assert idx_ids == {1, 2, 11}


def test_epoch_replay_is_noop(spark, tmp_path):
    table = create_corpus_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    idx = str(tmp_path / "idx")
    ingest_documents(table, _df(spark, B1), idx, "c", 0)
    snap = table.current_snapshot_id()
    n_idx_rows = spark.read.parquet(idx).count()

    # full replay of the same epoch: table no-ops, index fold idempotent
    lin, st = ingest_documents(table, _df(spark, B1), idx, "c", 0)
    assert lin is None
    assert table.current_snapshot_id() == snap
    assert spark.read.parquet(idx).count() == n_idx_rows
    # the gate's verdict is unchanged even though the index now contains
    # this batch's own survivors (replay-artifact matches are ignored)
    assert st["n_kept"] == 2


def test_stream_crash_resume_matches_batch(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    for i, (name, rows) in enumerate([("b1.parquet", B1), ("b2.parquet", B2)]):
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(cols, r)) for r in rows], schema=schema
            ),
            incoming / name,
        )
        # the file source takes files in modification-time order; two
        # writes in the same millisecond would leave b1/b2 unordered
        t = time.time() - 60 + i
        os.utime(incoming / name, (t, t))

    tbl = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    seen = []

    def crash_after_first(batch_id, lineage, stats):
        seen.append((batch_id, lineage, stats))
        if len(seen) == 1:
            raise RuntimeError("simulated crash")

    with pytest.raises(Exception, match="simulated crash"):
        run_corpus_stream(
            spark, str(incoming), tbl, idx, ckpt,
            max_files_per_trigger=1, on_batch=crash_after_first,
        )
    assert len(seen) == 1 and seen[0][1] is not None

    replays = []
    table = run_corpus_stream(
        spark, str(incoming), tbl, idx, ckpt,
        max_files_per_trigger=1,
        on_batch=lambda bid, lin, st: replays.append((bid, lin)),
    )
    # the interrupted epoch replays as a committed no-op
    assert replays[0][1] is None

    kept = {r["doc_id"] for r in table.read().collect()}
    assert kept == {1, 2, 11}
    idx_ids = {
        r["id"]
        for r in table.spark.read.parquet(idx).select("id").collect()
    }
    assert idx_ids == {1, 2, 11}
    # stream survivors carry their payload intact
    row11 = table.read().filter(F.col("doc_id") == 11).head()
    assert row11["text"] == UNIQ_B and row11["source"] == "web"
