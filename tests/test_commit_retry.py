"""Optimistic-commit retry on merge: a losing writer must re-merge
against the winner's snapshot (no lost update), stay exactly-once when
the racing writer committed the SAME epoch, clean up its orphaned
attempt files, and still raise when retries are exhausted. Maintenance
rewrites do not retry, but a lost race must leave no orphan files."""

import glob
import json
import os

import pytest
from pyspark.sql import types as T

from vuln_datasync_spark.sinks.manifest_table import (
    CommitConflict,
    ManifestTable,
)
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


def _rows(seqs):
    return [
        (s, "insert", f"r{s % 5}", f"f{s}.py", f"c{s}", "py", f"v{s}", None, None)
        for s in seqs
    ]


def _apply(spark, table, rows, ckpt, bid):
    return apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), table, ckpt, bid
    )


def _inject_racer(table, fire):
    """Shadow table._commit so another writer wins the race exactly once
    (fire() runs just before the first commit attempt)."""
    real = table._commit
    state = {"done": False}

    def racy(manifest, expected_parent):
        if not state["done"]:
            state["done"] = True
            fire()
        return real(manifest, expected_parent)

    table._commit = racy
    return state


def test_conflict_retry_preserves_both_writers(spark, tmp_path):
    root = str(tmp_path / "t")
    a = ManifestTable.create(spark, root, n_buckets=4)
    _apply(spark, a, _rows(range(1, 11)), "base", 0)
    b = ManifestTable(spark, root)

    state = _inject_racer(
        a, lambda: _apply(spark, b, _rows(range(501, 504)), "wB", 0)
    )
    res = _apply(spark, a, _rows(range(101, 104)), "wA", 0)
    assert state["done"] and res is not None
    assert res["rows_applied"] == 3

    keys = {r["path"] for r in a.read().collect()}
    assert {f"f{s}.py" for s in range(501, 504)} <= keys  # winner kept
    assert {f"f{s}.py" for s in range(101, 104)} <= keys  # loser re-merged
    assert len(keys) == 16

    # the conflicted attempt's snapshot dir was removed: every parquet
    # under data/ belongs to some manifest in the history
    referenced = set()
    for m in a.snapshots():
        for ps in m["files"].values():
            referenced.update(ps)
    on_disk = {
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, "data", "snap-*", "bucket=*", "*.parquet"))
    }
    assert on_disk <= referenced


def test_same_epoch_race_is_exactly_once(spark, tmp_path):
    root = str(tmp_path / "t")
    a = ManifestTable.create(spark, root, n_buckets=4)
    _apply(spark, a, _rows(range(1, 6)), "base", 0)
    b = ManifestTable(spark, root)

    # the racer commits the SAME (checkpoint, batch) epoch with the same
    # payload (at-least-once redelivery to two workers)
    _inject_racer(
        a, lambda: _apply(spark, b, _rows(range(101, 104)), "dup", 7)
    )
    res = _apply(spark, a, _rows(range(101, 104)), "dup", 7)
    assert res is None  # loser observed the winner's epoch: no double apply
    assert a.read().filter("path = 'f101.py'").count() == 1


def test_retries_exhausted_raises(spark, tmp_path):
    root = str(tmp_path / "t")
    a = ManifestTable.create(spark, root, n_buckets=2)
    _apply(spark, a, _rows(range(1, 4)), "base", 0)
    b = ManifestTable(spark, root)

    real = a._commit
    counter = {"n": 0}

    def always_lose(manifest, expected_parent):
        counter["n"] += 1
        _apply(spark, b, _rows([1000 + counter["n"]]), "wB", counter["n"])
        return real(manifest, expected_parent)

    a._commit = always_lose
    batch = spark.createDataFrame(_rows([200]), CHANGELOG_SCHEMA)
    from vuln_datasync_spark.functions.normalize import normalize_events
    from vuln_datasync_spark.operators.lww import lww_resolve

    winners = lww_resolve(normalize_events(batch))
    with pytest.raises(CommitConflict):
        a.merge(winners, "wA", 0, max_commit_retries=1)
    assert counter["n"] == 2  # initial attempt + one retry


def _deletes(seqs):
    """Tombstones for the keys ``_rows(seqs)`` inserted, sequenced later."""
    return [
        (100 + s, "delete", f"r{s % 5}", f"f{s}.py", f"d{s}", None, None, None, None)
        for s in seqs
    ]


_MAINTENANCE = {
    "expire_tombstones": ("cow", lambda t: t.expire_tombstones(below_seq=10**9)),
    "compact_logs": ("mor", lambda t: t.compact_logs()),
    "rebucket": ("cow", lambda t: t.rebucket(8)),
    "cluster": ("cow", lambda t: t.cluster(sort_by=["commit_seq"])),
}


@pytest.mark.parametrize("op", sorted(_MAINTENANCE))
def test_maintenance_conflict_leaves_no_orphan_snapshot(spark, tmp_path, op):
    merge_mode, run = _MAINTENANCE[op]
    root = str(tmp_path / "t")
    a = ManifestTable.create(spark, root, n_buckets=4, merge_mode=merge_mode)
    _apply(spark, a, _rows(range(1, 11)), "base", 0)
    # tombstones to expire; on the mor table these land as log files
    _apply(spark, a, _deletes(range(1, 4)), "base", 1)
    b = ManifestTable(spark, root)

    state = _inject_racer(
        a, lambda: _apply(spark, b, _rows(range(501, 504)), "wB", 0)
    )
    with pytest.raises(CommitConflict):
        run(a)
    assert state["done"]

    referenced = set()
    for mp in glob.glob(os.path.join(root, "_manifests", "*.json")):
        with open(mp) as f:
            m = json.load(f)
        for paths in list(m["files"].values()) + list(m["logs"].values()):
            referenced.update(p.split(os.sep)[1] for p in paths)
    on_disk = {
        os.path.basename(d) for d in glob.glob(os.path.join(root, "data", "snap-*"))
    }
    assert on_disk and on_disk <= referenced
