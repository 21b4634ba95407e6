"""count_rows (metadata-only COUNT), verify_table (integrity fsck) and
the dangling-head check."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from vuln_datasync_spark import cli
from vuln_datasync_spark.datagen import generate_changelog_pandas, write_changelog
from vuln_datasync_spark.sinks.manifest_table import ManifestTable
from vuln_datasync_spark.streaming.pipeline import apply_batch

from .test_cdc_e2e import CHANGELOG_SCHEMA


def _loaded_table(spark, tmp_path, n=3000, merge_mode="cow", batches=2):
    ev = generate_changelog_pandas(n, seed=41)
    log = tmp_path / "log"
    files = write_changelog(ev, str(log), n_files=batches)
    t = ManifestTable.create(
        spark, str(tmp_path / "tbl"), n_buckets=8, merge_mode=merge_mode
    )
    for i, f in enumerate(files):
        apply_batch(
            spark.read.schema(CHANGELOG_SCHEMA).parquet(f), t, "fsck", i
        )
    return t


def test_count_rows_matches_scan_cow_and_mor(spark, tmp_path):
    for mode in ("cow", "mor"):
        t = _loaded_table(spark, tmp_path / mode, merge_mode=mode)
        live = t.read().count()
        total = t.read(include_tombstones=True).count()
        assert t.count_rows() == live
        assert t.count_rows(include_tombstones=True) == total
    # after compaction the MOR table is countable without any scan —
    # same numbers, now pure manifest arithmetic
    t.compact_logs()
    assert t.count_rows() == live
    assert t.count_rows(include_tombstones=True) == total


def test_verify_table_clean_and_missing_file(spark, tmp_path):
    t = _loaded_table(spark, tmp_path)
    rep = t.verify_table(check_rows=True, check_routing=True)
    assert rep["ok"], rep
    assert rep["files_checked"] > 0
    assert rep["misrouted"] == 0 and rep["row_mismatch"] == []
    # delete one referenced data file -> flagged, ok=False
    m = t.manifest()
    victim = next(p for paths in m["files"].values() for p in paths)
    os.remove(os.path.join(t.root, victim))
    rep2 = t.verify_table()
    assert not rep2["ok"] and rep2["missing_files"] == [victim]


def test_verify_table_row_mismatch_and_misroute(spark, tmp_path):
    t = _loaded_table(spark, tmp_path)
    m = t.manifest()
    sid = m["snapshot_id"]
    mpath = os.path.join(t.root, "_manifests", f"{sid}.json")
    # plant a misroute: physically copy a bucket=N parquet into another
    # bucket's directory and reference it there — its rows hash to N,
    # not to the dir they now sit in (a wrong-modulus writer would
    # produce exactly this)
    src_bucket = next(b for b, ps in m["files"].items() if ps and b != "0")
    src_rel = m["files"][src_bucket][0]
    moved = os.path.join(
        os.path.dirname(os.path.dirname(src_rel)),
        "bucket=0",
        "misrouted-" + os.path.basename(src_rel),
    )
    os.makedirs(
        os.path.dirname(os.path.join(t.root, moved)), exist_ok=True
    )
    shutil.copy2(os.path.join(t.root, src_rel), os.path.join(t.root, moved))
    m["files"].setdefault("0", []).append(moved)
    # plant a row-count lie on another file
    liar = next(
        p
        for paths in m["files"].values()
        for p in paths
        if p != moved and p in m["file_meta"]
    )
    m["file_meta"][liar]["rows"] += 7
    with open(mpath, "w") as f:
        json.dump(m, f)
    rep = t.verify_table(check_rows=True, check_routing=True)
    assert not rep["ok"]
    assert rep["misrouted"] > 0
    assert any(x["file"] == liar for x in rep["row_mismatch"])


def test_verify_table_broken_chain_and_rollback_epochs(spark, tmp_path):
    t = _loaded_table(spark, tmp_path, batches=3)
    snaps = t.snapshots()
    assert len(snaps) == 3
    # rollback reverts applied_epochs ON PURPOSE — must not be flagged
    t.rollback(snaps[0]["snapshot_id"])
    assert t.verify_table()["ok"]
    # removing a mid-chain manifest breaks the walk
    os.remove(
        os.path.join(
            t.root, "_manifests", f"{snaps[1]['snapshot_id']}.json"
        )
    )
    rep = t.verify_table()
    assert not rep["ok"] and rep["broken_chain"]


def test_dangling_head_fails_loudly(spark, tmp_path):
    """A ``_current`` that names a missing manifest (an expire_snapshots
    racing a commit leaves one) is not an empty table: reads and merge
    raise instead of serving or committing 0 rows, and verify_table
    reports the head id in broken_chain."""
    t = _loaded_table(spark, tmp_path)
    head = t.current_snapshot_id()
    os.remove(os.path.join(t.root, "_manifests", f"{head}.json"))
    with pytest.raises(ValueError, match="no manifest"):
        t.read()
    batch = spark.createDataFrame(
        [(99999, "insert", "r", "p.py", "c", "py", "x", None, None)],
        CHANGELOG_SCHEMA,
    )
    with pytest.raises(ValueError, match="no manifest"):
        apply_batch(batch, t, "fsck", 99)
    assert t.current_snapshot_id() == head
    rep = t.verify_table()
    assert not rep["ok"] and rep["broken_chain"] == [head]
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.verify_table("no-such-snap")


def test_cli_fsck_and_fast_stats(spark, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    t = _loaded_table(spark, tmp_path)
    tbl = t.root
    assert cli.main(["stats", "--table", tbl, "--fast"]) == 0
    fast = json.loads(capsys.readouterr().out.strip())
    assert fast["live_rows"] == t.read().count()
    assert fast["rows"] == t.read(include_tombstones=True).count()
    assert cli.main(["fsck", "--table", tbl, "--rows", "--routing"]) == 0
    rep = json.loads(capsys.readouterr().out.strip())
    assert rep["ok"]
    # break it -> nonzero exit
    m = t.manifest()
    victim = next(p for paths in m["files"].values() for p in paths)
    os.remove(os.path.join(tbl, victim))
    assert cli.main(["fsck", "--table", tbl]) == 1
