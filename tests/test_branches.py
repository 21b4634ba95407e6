"""Snapshot expiry, orphan-file vacuum and key-zone pruned lookups.

Maintenance that keeps a table's files proportional to its live state
(Iceberg ``expire_snapshots`` / ``remove_orphan_files`` analogs), and a
point lookup that opens only the files whose key zone covers the probe.
"""

import json
import os
import shutil
import time

from pyspark.sql import types as T

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


def _rows(seqs, repo="r0"):
    return [
        (s, "insert", repo, f"f{s}.py", f"c{s}", "py", f"v{s}", None, None)
        for s in seqs
    ]


def _apply(spark, table, rows, bid, ckpt="br"):
    return apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), table, ckpt, bid
    )


def test_remove_orphan_files(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    _apply(spark, table, _rows(range(1, 6)), 0)
    root = str(tmp_path / "t")
    # plant a crashed-writer orphan: a snap dir never linked to a manifest
    odir = os.path.join(root, "data", "snap-000-dead", "bucket=0")
    os.makedirs(odir)
    orphan = os.path.join(odir, "part-dead.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    # and a RECENT orphan (in-flight writer) that must survive
    rdir = os.path.join(root, "data", "snap-000-live", "bucket=0")
    os.makedirs(rdir)
    recent = os.path.join(rdir, "part-live.parquet")
    with open(recent, "wb") as f:
        f.write(b"in flight")

    before = table.read().count()
    out = table.remove_orphan_files(older_than_seconds=3600)
    assert out["removed"] == [
        os.path.relpath(orphan, root)
    ]
    assert out["kept_recent"] == 1
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.dirname(odir))  # empty snap dir gone
    assert os.path.exists(recent)
    # live data untouched
    assert table.read().count() == before
    # second pass: nothing left old enough
    assert table.remove_orphan_files(older_than_seconds=3600)["removed"] == []


def test_expire_snapshots_older_than(spark, tmp_path):
    root = str(tmp_path / "t")
    table = ManifestTable.create(spark, root, n_buckets=2)
    _apply(spark, table, _rows(range(1, 3)), 0)
    _apply(spark, table, _rows(range(11, 13)), 1)
    time.sleep(0.05)
    cut = time.time() * 1000
    time.sleep(0.05)
    _apply(spark, table, _rows(range(21, 23)), 2)
    _apply(spark, table, _rows(range(31, 33)), 3)
    # plant a crash between manifest write and pointer swap: a manifest
    # that names the head as parent, and its data file, but that no
    # pointer ever linked into the chain
    head = table.manifest()
    dead = f"{int(time.time() * 1000):013d}-deadbeef"
    dead_rel = os.path.join("data", f"snap-{dead}", "bucket=0", "part-0.parquet")
    os.makedirs(os.path.dirname(os.path.join(root, dead_rel)))
    shutil.copy(
        os.path.join(root, table._referenced(head)[0]),
        os.path.join(root, dead_rel),
    )
    dead_manifest = os.path.join(root, "_manifests", f"{dead}.json")
    with open(dead_manifest, "w") as f:
        json.dump(
            {**head, "snapshot_id": dead, "parent": head["snapshot_id"],
             "files": {"0": [dead_rel]}},
            f,
        )
    # keep=1 + older_than=cut: the two pre-cut snapshots go, both
    # post-cut snapshots stay even though keep alone would drop one
    table.expire_snapshots(keep=1, older_than=int(cut))
    kept = [m["snapshot_id"] for m in table.snapshots()]
    assert len(kept) == 2
    assert all(int(s.split("-", 1)[0]) > cut for s in kept)
    # the never-linked manifest and its file are swept
    assert not os.path.exists(dead_manifest)
    assert not os.path.exists(os.path.join(root, dead_rel))
    assert table.current_snapshot_id() == head["snapshot_id"]
    assert table.read().count() == 8  # state intact
    assert table.verify_table(check_rows=True)["ok"]


def test_lookup_prunes_files_by_key_zone(spark, tmp_path):
    # one bucket, clustered by repo into many small files -> a point
    # lookup must open only the file(s) whose key zone covers the probe
    table = ManifestTable.create(
        spark,
        str(tmp_path / "t"),
        n_buckets=1,
        write_sort=("repo",),
        target_file_rows=10,
    )
    rows = []
    for i in range(100):
        rows.append(
            (i, "insert", f"repo{i:03d}", "f.py", f"c{i}", "py", f"v{i}", None, None)
        )
    _apply(spark, table, rows, 0)
    m = table.manifest()
    n_files = sum(len(v) for v in m["files"].values())
    assert n_files >= 5  # clustered layout actually split the bucket
    got = table.lookup([("repo042", "f.py")]).collect()
    assert len(got) == 1 and got[0]["content"] == "v42"
    # manifest-level proof: the probe's key range skips most of the
    # bucket's files (lookup passes the same range_filters to read())
    rep = table.prune_report({"repo": ("repo042", "repo042")})
    assert len(rep["skipped"]) > 0
    assert len(rep["kept"]) < n_files
