"""CLI subcommands + table maintenance (expire tombstones/snapshots)."""

import json

from pyspark.sql import functions as F

from vuln_datasync_spark import cli
from vuln_datasync_spark.datagen import (
    generate_changelog_pandas,
    generate_changelog_spark,
    write_changelog,
)
from vuln_datasync_spark.sinks.manifest_table import ManifestTable
from vuln_datasync_spark.streaming.pipeline import apply_batch

from .test_cdc_e2e import CHANGELOG_SCHEMA


def test_cli_replay_stats_export(spark, tmp_path, capsys, monkeypatch):
    # keep the CLI on the already-running test session
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    ev = generate_changelog_pandas(1500, seed=31)
    log = tmp_path / "log"
    write_changelog(ev, str(log), n_files=2)
    tbl = str(tmp_path / "tbl")

    assert cli.main(["replay", "--changelog", str(log), "--table", tbl]) == 0
    lineage = json.loads(capsys.readouterr().out.strip())
    assert lineage["rows_applied"] > 0

    assert cli.main(["stats", "--table", tbl]) == 0
    stats = json.loads(capsys.readouterr().out.strip())
    assert stats["rows"] > 0 and stats["batches_applied"] == 1


def test_cli_synth_and_stream(spark, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    log = str(tmp_path / "slog")
    assert cli.main(["synth", "--events", "2000", "--out", log]) == 0
    capsys.readouterr()
    tbl = str(tmp_path / "stbl")
    assert cli.main(
        ["stream", "--changelog", log, "--table", tbl,
         "--checkpoint", str(tmp_path / "ckpt")]
    ) == 0
    t = ManifestTable(spark, tbl)
    assert t.read().count() > 0

    # distinct key indices are distinct keys: the log is not capped at the
    # 3000 combinations of the modular repo/path parts
    ev = generate_changelog_spark(spark, 12000, n_keys=12000)
    assert ev.select("repo", "path").distinct().count() > 3000


def test_expire_tombstones_and_snapshots(spark, tmp_path):
    rows = [
        (1, "insert", "r1", "a.py", "c1", "python", "v1", None, None),
        (2, "delete", "r1", "a.py", "c2", None, None, None, None),
        (3, "insert", "r2", "b.py", "c3", "python", "v3", None, None),
        (4, "delete", "r2", "b.py", "c4", None, None, None, None),
        (5, "insert", "r2", "b.py", "c5", "python", "v5", None, None),
    ]
    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA), t, "c", 0)
    tombs = t.read(include_tombstones=True).filter(F.col("is_deleted"))
    assert tombs.count() == 1  # r1/a.py (r2/b.py was re-inserted)

    sid = t.expire_tombstones(below_seq=100)
    assert sid is not None
    assert t.read(include_tombstones=True).filter(F.col("is_deleted")).count() == 0
    assert {r["repo"] for r in t.read().collect()} == {"r2"}

    n_before = len(t.snapshots())
    t.expire_snapshots(keep=1)
    assert len(t.snapshots()) == 1
    assert {r["repo"] for r in t.read().collect()} == {"r2"}  # data survives
    assert n_before > 1


def test_rebucket_scales_bucket_count(spark, tmp_path):
    """Bucket split story: rebucket rewrites the current snapshot into a
    wider hash layout; contents identical, future merges use the new
    granularity, old snapshots still readable."""
    import pandas as pd

    from vuln_datasync_spark.sinks import ManifestTable
    from vuln_datasync_spark.streaming import apply_batch
    from vuln_datasync_spark.datagen import generate_changelog_pandas

    root = str(tmp_path / "tbl")
    t = ManifestTable.create(spark, root, n_buckets=4)
    ev = generate_changelog_pandas(2000, seed=7)
    schema = ("commit_seq long, op string, repo string, path string, "
              "commit string, lang string, content string, ts timestamp, "
              "size_bytes long")
    sdf = spark.createDataFrame(ev)
    apply_batch(sdf, t, "rb", 0)
    before = {(r["repo"], r["path"]): r["content_sha256"]
              for r in t.read().collect()}
    old_sid = t.current_snapshot_id()

    sid = t.rebucket(16)
    assert t.n_buckets == 16
    after = {(r["repo"], r["path"]): r["content_sha256"]
             for r in t.read().collect()}
    assert after == before
    # old snapshot still time-travel readable
    assert t.read(snapshot_id=old_sid).count() == len(before)
    # persisted: a fresh handle sees 16 buckets and merges against them
    t2 = ManifestTable(spark, root)
    assert t2.n_buckets == 16
    ev2 = generate_changelog_pandas(500, seed=8)
    apply_batch(spark.createDataFrame(ev2), t2, "rb", 1)
    m = t2.manifest()
    assert all(int(b) < 16 for b in m["files"])
    assert t2.read().count() >= len(before) - 500  # sane post-merge state


def test_changelog_fallback_chooser(spark, tmp_path):
    from vuln_datasync_spark.sources.changelog import (
        read_changelog_with_fallback,
    )

    good = str(tmp_path / "good")
    spark.range(1, 10).selectExpr(
        "id AS commit_seq", "'insert' AS op", "'r' AS repo",
        "CAST(id AS STRING) AS path", "'c' AS commit", "'go' AS lang",
        "'x' AS content", "current_timestamp() AS ts", "1 AS size_bytes"
    ).write.parquet(good)
    df = read_changelog_with_fallback(
        spark, [str(tmp_path / "missing"), good, str(tmp_path / "never")]
    )
    assert df.count() == 9

    import pytest

    with pytest.raises(Exception):
        read_changelog_with_fallback(
            spark, [str(tmp_path / "m1"), str(tmp_path / "m2")]
        )


def _batch(spark, rows):
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


def test_lineage_compact_and_expire(spark, tmp_path):
    """100-commit small-files problem: compaction bounds the _lineage/ file
    count; stats queries are unchanged; expiry drops aged rows only."""
    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    for i in range(10):
        rows = [(i * 10 + 1, "insert", f"r{i}", "a.py", f"c{i}", "python",
                 f"v{i}", None, None)]
        apply_batch(_batch(spark, rows), t, "c", i)
    import glob as g
    ldir = str(tmp_path / "t" / "_lineage")
    assert len(g.glob(ldir + "/*.parquet")) == 10
    before = t.read_lineage().orderBy("batch_id").collect()

    # under the threshold: no-op
    assert t.compact_lineage(max_files=64)["compacted"] == 0
    rec = t.compact_lineage(max_files=4)
    assert rec["files_after"] == 1
    assert len(g.glob(ldir + "/*.parquet")) == 1
    after = t.read_lineage().orderBy("batch_id").collect()
    assert [r.asDict() for r in before] == [r.asDict() for r in after]

    # expiry: a future cutoff drops everything; batches_applied contract
    # survives (rows keyed by checkpoint/batch are simply gone)
    rec = t.expire_lineage("2020-01-01T00:00:00Z")
    assert rec["rows_kept"] == 10  # nothing older than 2020
    rec = t.expire_lineage("2999-01-01T00:00:00Z")
    assert rec["rows_kept"] == 0
    assert g.glob(ldir + "/*.parquet") == []
    # a fully-expired lineage dir reads as an EMPTY frame, not an
    # unable-to-infer-schema error
    assert t.read_lineage().count() == 0


def test_rebucket_empty_table_takes_effect(spark, tmp_path):
    """Pre-scaling an EMPTY table before a backfill must not be a silent
    no-op (ADVICE r02): the first load must land on the new bucket count."""
    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    t.rebucket(16)
    assert t.n_buckets == 16
    # a fresh handle bootstraps from _table.json
    t2 = ManifestTable(spark, str(tmp_path / "t"))
    assert t2.n_buckets == 16
    rows = [(1, "insert", "r1", "a.py", "c1", "python", "v1", None, None)]
    apply_batch(_batch(spark, rows), t2, "c", 0)
    assert t2.manifest()["n_buckets"] == 16


def test_merge_adopts_concurrent_rebucket_layout(spark, tmp_path):
    """A rebucket committed by ANOTHER handle between batches must not
    corrupt a live handle's merge (ADVICE r02 medium): the merge adopts
    the committed layout instead of routing rows with a stale modulus."""
    root = str(tmp_path / "t")
    a = ManifestTable.create(spark, root, n_buckets=2)
    rows0 = [
        (i, "insert", f"r{i}", "f.py", f"c{i}", "python", f"v{i}", None, None)
        for i in range(1, 9)
    ]
    apply_batch(_batch(spark, rows0), a, "c", 0)

    b = ManifestTable(spark, root)  # second handle (maintenance process)
    b.rebucket(8)
    assert b.n_buckets == 8 and a.n_buckets == 2  # a is now stale

    # stale handle merges: an update for an old key + a brand-new key
    rows1 = [
        (100, "insert", "r1", "f.py", "c100", "python", "NEW", None, None),
        (101, "insert", "r9", "f.py", "c101", "python", "v9", None, None),
    ]
    apply_batch(_batch(spark, rows1), a, "c", 1)
    assert a.n_buckets == 8  # adopted the committed layout

    got = {(r["repo"], r["path"]): r["content"] for r in a.read().collect()}
    assert got[("r1", "f.py")] == "NEW"
    assert len(got) == 9
    # every row is in the bucket its key hashes to under the NEW modulus
    m = a.manifest()
    assert m["n_buckets"] == 8
    for bkt, paths in m["files"].items():
        import os as _os
        df = spark.read.parquet(
            *[_os.path.join(root, p) for p in paths]
        )
        bad = df.filter(
            F.pmod(F.xxhash64("repo", "path"), F.lit(8)).cast("int")
            != int(bkt)
        ).count()
        assert bad == 0, f"bucket {bkt} holds misrouted rows"


def test_expire_tombstones_adopts_concurrent_rebucket_layout(spark, tmp_path):
    root = str(tmp_path / "t")
    a = ManifestTable.create(spark, root, n_buckets=2)
    rows = [
        (1, "insert", "r1", "a.py", "c1", "python", "v1", None, None),
        (2, "delete", "r1", "a.py", "c2", None, None, None, None),
        (3, "insert", "r2", "b.py", "c3", "python", "v3", None, None),
    ]
    apply_batch(_batch(spark, rows), a, "c", 0)
    ManifestTable(spark, root).rebucket(8)
    sid = a.expire_tombstones(below_seq=100)
    assert sid is not None and a.n_buckets == 8
    assert a.read(include_tombstones=True).filter(
        F.col("is_deleted")
    ).count() == 0
    assert {r["repo"] for r in a.read().collect()} == {"r2"}


def test_optimistic_commit_conflict_detected(spark, tmp_path):
    """The expected-parent check must refuse a commit whose parent moved
    (optimistic single-writer; SURVEY §7.1 commit protocol)."""
    import pytest

    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    rows = [(1, "insert", "r1", "a.py", "c1", "python", "v1", None, None)]
    apply_batch(_batch(spark, rows), t, "c", 0)
    stale_parent = t.current_snapshot_id()
    # another writer advances the table
    apply_batch(
        _batch(spark, [(2, "insert", "r2", "b.py", "c2", "python", "v2",
                        None, None)]), t, "c", 1
    )
    m = dict(t.manifest())
    m["snapshot_id"] = "zzz-conflict"
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t._commit(m, expected_parent=stale_parent)


def test_cli_changes_feed(spark, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    tbl = str(tmp_path / "cftbl")
    table = ManifestTable.create(spark, tbl, n_buckets=4)
    apply_batch(
        spark.createDataFrame(
            [(1, "insert", "r1", "a.py", "c1", "python", "v1", None, None)],
            CHANGELOG_SCHEMA,
        ),
        table, "c", 0,
    )
    s1 = table.current_snapshot_id()
    apply_batch(
        spark.createDataFrame(
            [
                (2, "update", "r1", "a.py", "c2", "python", "v2", None, None),
                (3, "insert", "r2", "b.py", "c3", "python", "v3", None, None),
            ],
            CHANGELOG_SCHEMA,
        ),
        table, "c", 1,
    )

    assert cli.main(["changes", "--table", tbl, "--since", s1, "--summary"]) == 0
    counts = json.loads(capsys.readouterr().out.strip())
    assert counts == {"insert": 1, "update": 1}

    assert cli.main(["changes", "--table", tbl, "--since", s1]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert {(r["repo"], r["_change_type"]) for r in lines} == {
        ("r1", "update"), ("r2", "insert")
    }


def test_cli_distinct_global_and_sketch(spark, tmp_path, capsys, monkeypatch):
    """`distinct` without --by is the global path: count and sketch-out
    must both work over the whole table (regression: empty group cols
    used to crash the pandas groupby in kmv_candidates)."""
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    tbl = str(tmp_path / "dtbl")
    rows = [
        (i, "insert", f"r{i % 13}", f"p{i}.py", f"c{i}", "python",
         f"v{i % 41}", None, None)
        for i in range(1, 400)
    ]
    apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA),
        ManifestTable.create(spark, tbl, n_buckets=4), "c", 0,
    )

    assert cli.main(["distinct", "--table", tbl, "--col", "content"]) == 0
    est = json.loads(capsys.readouterr().out.strip())
    assert est["est_distinct"] == 41  # < k -> exact

    sk = str(tmp_path / "sk")
    assert cli.main(
        ["distinct", "--table", tbl, "--col", "content", "--sketch-out", sk]
    ) == 0
    rec = json.loads(capsys.readouterr().out.strip())
    assert rec["sketch"] == sk
    [srow] = spark.read.parquet(sk).collect()
    assert len(srow["hashes"]) == 41

    assert cli.main(
        ["distinct", "--table", tbl, "--col", "content", "--by", "repo"]
    ) == 0
    per = json.loads(capsys.readouterr().out.strip())
    assert len(per) == 13 and all(r["est_distinct"] >= 1 for r in per)
