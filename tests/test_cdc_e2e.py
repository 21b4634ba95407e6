"""End-to-end batch replay: changelog -> engine -> final state ==
single-threaded pandas oracle, row-by-row sha256(content) equality
(BASELINE.json north_star / input_hint invariant)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vuln_datasync_spark.datagen import (
    generate_changelog_pandas,
    replay_oracle,
    write_changelog,
)
from vuln_datasync_spark.sinks.manifest_table import ManifestTable
from vuln_datasync_spark.streaming.pipeline import apply_batch

CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("commit_seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)

CMP_COLS = ["repo", "path", "commit", "lang", "content_sha256", "size_bytes"]


def _final_state_pdf(table: ManifestTable) -> pd.DataFrame:
    pdf = table.read().select(*CMP_COLS).toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _oracle_pdf(ev: pd.DataFrame) -> pd.DataFrame:
    o = replay_oracle(ev)[CMP_COLS].copy()
    return o.sort_values(["repo", "path"]).reset_index(drop=True)


def assert_state_matches(table, ev):
    got, want = _final_state_pdf(table), _oracle_pdf(ev)
    got["size_bytes"] = got["size_bytes"].astype("Int64")
    want["size_bytes"] = want["size_bytes"].astype("Int64")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# The case ids keep the names of the two resolvers these cases once ran
# (maxby, salted); both now run the one window resolver. "maxby" replays
# the default Zipf skew, "salted" a batch where one key carries about 60%
# of the events, the hot-key shape salting was built for.
@pytest.mark.parametrize("zipf_a", [pytest.param(1.3, id="maxby"),
                                    pytest.param(2.0, id="salted")])
def test_batch_replay_matches_oracle(spark, tmp_path, zipf_a):
    ev = generate_changelog_pandas(8000, seed=42, zipf_a=zipf_a)
    log_dir = tmp_path / "log"
    write_changelog(ev, str(log_dir), n_files=6)

    table = ManifestTable.create(spark, str(tmp_path / "table"), n_buckets=16)
    raw = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(log_dir))
    lineage = apply_batch(raw, table, "t1", 0)
    assert lineage is not None and lineage["rows_applied"] > 0
    assert lineage["seq_start"] == 1
    assert_state_matches(table, ev)


def test_incremental_batches_and_idempotency(spark, tmp_path):
    ev = generate_changelog_pandas(6000, seed=1)
    log_dir = tmp_path / "log"
    files = write_changelog(ev, str(log_dir), n_files=6)

    table = ManifestTable.create(spark, str(tmp_path / "table"), n_buckets=16)
    # feed file-by-file (micro-batch simulation, arrival order w/ disorder)
    for i, f in enumerate(files):
        raw = spark.read.schema(CHANGELOG_SCHEMA).parquet(f)
        apply_batch(raw, table, "ckpt", i)
    assert_state_matches(table, ev)
    n_snaps = len(table.snapshots())

    # exactly-once: replaying an already-committed epoch is a no-op
    replay = spark.read.schema(CHANGELOG_SCHEMA).parquet(files[2])
    assert apply_batch(replay, table, "ckpt", 2) is None
    assert len(table.snapshots()) == n_snaps
    assert_state_matches(table, ev)

    # monotone merge condition: same data under a NEW epoch also changes
    # nothing (stored order >= incoming order everywhere)
    apply_batch(replay, table, "ckpt2", 99)
    assert_state_matches(table, ev)


def test_delete_tombstones_block_resurrection(spark, tmp_path):
    rows = [
        # key A: insert seq1, delete seq3 -> gone; late update seq2 must NOT resurrect
        (1, "insert", "r1", "a.py", "c1", "python", "v1", None, None),
        (3, "delete", "r1", "a.py", "c3", None, None, None, None),
        # key B: delete then re-insert -> present
        (4, "insert", "r2", "b.go", "c4", "go", "v4", None, None),
        (5, "delete", "r2", "b.go", "c5", None, None, None, None),
        (6, "insert", "r2", "b.go", "c6", "go", "v6", None, None),
    ]
    late = [(2, "update", "r1", "a.py", "c2", "python", "v2", None, None)]
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA), table, "c", 0)
    apply_batch(spark.createDataFrame(late, CHANGELOG_SCHEMA), table, "c", 1)
    final = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert final == {("r2", "b.go"): "v6"}
    # tombstone still present internally with its order
    tomb = (
        table.read(include_tombstones=True)
        .filter(F.col("is_deleted"))
        .select("repo", "path", "commit_seq")
        .collect()
    )
    assert {(r["repo"], r["path"]): r["commit_seq"] for r in tomb} == {
        ("r1", "a.py"): 3
    }


def test_lineage_records(spark, tmp_path):
    ev = generate_changelog_pandas(2000, seed=3)
    log_dir = tmp_path / "log"
    files = write_changelog(ev, str(log_dir), n_files=2)
    table = ManifestTable.create(spark, str(tmp_path / "table"), n_buckets=8)
    for i, f in enumerate(files):
        apply_batch(spark.read.schema(CHANGELOG_SCHEMA).parquet(f), table, "c", i)
    lin = table.read_lineage().toPandas()
    assert set(lin.batch_id.unique()) == {0, 1}
    assert (lin.rows_applied >= 0).all()
    assert lin.snapshot_id.nunique() == 2
    # offset ranges cover the log
    assert lin.seq_start.min() == 1
    assert lin.seq_end.max() == ev.commit_seq.max()
