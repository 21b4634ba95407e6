"""Merge-on-read (MOR) write mode for ManifestTable.

COW merges rewrite every touched bucket; at 100 TB a trickle of small
CDC batches pays bucket-size write amplification per commit. MOR merges
append the batch as per-bucket LOG files instead (Hudi MOR / Iceberg
merge-on-read analog; reference analog: the row-level UPSERT path,
/root/reference/sql/vulnerabilities.sql:66-90 — B-tree in-place there,
log + read-time LWW resolution here). Reads resolve base ∪ logs per key
with the same (commit_seq, commit, op) total order the COW path uses,
so a MOR table and a COW table fed the same batches are row-identical.
``compact_logs`` folds logs back into the base during maintenance.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F
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


def _ev(seq, op, repo, path, content=None, ts=None):
    return (seq, op, repo, path, f"c{seq}", "python", content, ts, None)


def _batch(spark, table, rows, bid, checkpoint="mor"):
    return apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), table, checkpoint, bid
    )


def _state(table, **kw):
    return {
        (r["repo"], r["path"]): r["content"]
        for r in table.read(**kw).collect()
    }


BATCHES = [
    [
        _ev(1, "insert", "r1", "a.py", "v1"),
        _ev(2, "insert", "r1", "b.py", "v2"),
        _ev(3, "insert", "r2", "c.go", "v3"),
        _ev(4, "insert", "r2", "d.go", "v4"),
    ],
    [
        _ev(5, "update", "r1", "a.py", "v5"),
        _ev(6, "delete", "r1", "b.py"),
        _ev(7, "insert", "r3", "e.rs", "v7"),
    ],
    [
        _ev(8, "update", "r3", "e.rs", "v8"),
        _ev(9, "insert", "r1", "b.py", "v9"),  # revive after delete
    ],
]


def _twin_tables(spark, tmp_path, n_batches=len(BATCHES)):
    cow = ManifestTable.create(spark, str(tmp_path / "cow"), n_buckets=4)
    mor = ManifestTable.create(
        spark, str(tmp_path / "mor"), n_buckets=4, merge_mode="mor"
    )
    for i, rows in enumerate(BATCHES[:n_batches]):
        _batch(spark, cow, rows, i)
        _batch(spark, mor, rows, i)
    return cow, mor


def test_mor_read_equals_cow(spark, tmp_path):
    cow, mor = _twin_tables(spark, tmp_path)
    assert _state(mor) == _state(cow)
    assert _state(mor, include_tombstones=True) == _state(
        cow, include_tombstones=True
    )


def test_mor_appends_logs_without_rewriting_base(spark, tmp_path):
    _, mor = _twin_tables(spark, tmp_path, n_batches=1)
    m1 = mor.manifest()
    base_files = dict(m1["files"])
    assert not any((m1.get("logs") or {}).values())  # first load = base
    _batch(spark, mor, BATCHES[1], 1)
    m2 = mor.manifest()
    # base untouched: identical rel paths, and the physical files survive
    assert m2["files"] == base_files
    for paths in base_files.values():
        for rel in paths:
            assert os.path.exists(os.path.join(mor.root, rel))
    logs = m2.get("logs") or {}
    assert any(logs.values())
    # every log file exists and is tracked with per-file zone stats
    for paths in logs.values():
        for rel in paths:
            assert os.path.exists(os.path.join(mor.root, rel))
            assert rel in m2["file_meta"]


def test_mor_exactly_once_replay(spark, tmp_path):
    _, mor = _twin_tables(spark, tmp_path)
    before = _state(mor)
    n_logs = sum(
        len(ps) for ps in (mor.manifest().get("logs") or {}).values()
    )
    # replaying an applied epoch is a no-op: no new snapshot, no new logs
    sid = mor.current_snapshot_id()
    _batch(spark, mor, BATCHES[2], 2)
    assert mor.current_snapshot_id() == sid
    assert (
        sum(len(ps) for ps in (mor.manifest().get("logs") or {}).values())
        == n_logs
    )
    assert _state(mor) == before


def test_mor_lookup_sees_log_winner(spark, tmp_path):
    _, mor = _twin_tables(spark, tmp_path)
    rows = mor.lookup([("r1", "a.py"), ("r1", "b.py")]).collect()
    got = {(r["repo"], r["path"]): r["content"] for r in rows}
    assert got == {("r1", "a.py"): "v5", ("r1", "b.py"): "v9"}


def test_mor_zone_prune_never_surfaces_stale_base_row(spark, tmp_path):
    """The MOR-specific pruning hazard: a non-key range filter must not
    skip the log file holding a key's winner while keeping the base file
    with its stale (in-range) version. Logged buckets therefore prune
    files on KEY columns only; non-key predicates apply row-level after
    resolution."""
    import datetime as dt

    t_in = dt.datetime(2024, 1, 15)
    t_out = dt.datetime(2025, 6, 1)
    mor = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor"
    )
    _batch(spark, mor, [_ev(1, "insert", "r1", "a.py", "v1", t_in)], 0)
    _batch(spark, mor, [_ev(2, "update", "r1", "a.py", "v2", t_out)], 1)
    rf = {"ts": (dt.datetime(2024, 1, 1), dt.datetime(2024, 12, 31))}
    # the stale base row (ts in range) must not resurface
    assert _state(mor, range_filters=rf) == {}
    # and the winner is found when the filter covers ITS timestamp
    rf2 = {"ts": (dt.datetime(2025, 1, 1), dt.datetime(2025, 12, 31))}
    assert _state(mor, range_filters=rf2) == {("r1", "a.py"): "v2"}


def test_compact_logs_folds_and_preserves_state(spark, tmp_path):
    cow, mor = _twin_tables(spark, tmp_path)
    before = _state(mor, include_tombstones=True)
    sid = mor.compact_logs()
    assert sid is not None
    m = mor.manifest()
    assert not any((m.get("logs") or {}).values())
    assert _state(mor, include_tombstones=True) == before
    assert _state(mor) == _state(cow)
    # compaction is targeted: buckets that never had logs keep their files
    # (r2/d.go's bucket had no batch-2/3 traffic in this fixture only if
    # hashing says so — instead assert the invariant that every kept base
    # file still exists)
    for paths in m["files"].values():
        for rel in paths:
            assert os.path.exists(os.path.join(mor.root, rel))


def test_compact_logs_noop_without_logs(spark, tmp_path):
    _, mor = _twin_tables(spark, tmp_path, n_batches=1)
    assert mor.compact_logs() is None


def test_mor_read_changes_matches_cow(spark, tmp_path):
    cow, mor = _twin_tables(spark, tmp_path, n_batches=1)
    s_cow, s_mor = cow.current_snapshot_id(), mor.current_snapshot_id()
    _batch(spark, cow, BATCHES[1], 1)
    _batch(spark, mor, BATCHES[1], 1)

    def _feed(t, frm):
        return {
            (r["repo"], r["path"]): (r["_change_type"], r["content"])
            for r in t.read_changes(frm).collect()
        }

    assert _feed(mor, s_mor) == _feed(cow, s_cow)
    assert _feed(mor, s_mor) == {
        ("r1", "a.py"): ("update", "v5"),
        ("r1", "b.py"): ("delete", "v2"),
        ("r3", "e.rs"): ("insert", "v7"),
    }
    # a log-only commit must register as a touched bucket even though
    # the base file lists are identical between the snapshots
    m_from, m_to = mor.manifest(s_mor), mor.manifest()
    assert m_from["files"] == m_to["files"]


def test_mor_delete_where_and_expire_tombstones(spark, tmp_path):
    _, mor = _twin_tables(spark, tmp_path)
    mor.delete_where(F.col("repo") == "r2")
    assert {k[0] for k in _state(mor)} == {"r1", "r3"}
    # the tombstones live in LOG files; the manifest's additive per-bucket
    # tombstone stats still find their buckets without a scan, and the
    # expiry rewrite folds those buckets' logs while purging. Buckets
    # whose logs hold no aged tombstone are (correctly) left alone.
    logged_before = set(mor._logged_buckets(mor.manifest()))
    mor.expire_tombstones(below_seq=100)
    m = mor.manifest()
    assert set(mor._logged_buckets(m)) < logged_before  # tomb buckets folded
    live = mor.read(include_tombstones=True)
    assert live.filter(F.col("is_deleted")).count() == 0
    assert {k[0] for k in _state(mor)} == {"r1", "r3"}


def test_mor_maintain_compacts_when_logs_pile_up(spark, tmp_path):
    mor = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor"
    )
    _batch(spark, mor, [_ev(1, "insert", "r1", "a.py", "v1")], 0)
    for i in range(4):
        _batch(
            spark, mor, [_ev(2 + i, "update", "r1", "a.py", f"u{i}")], i + 1
        )
    assert any((mor.manifest().get("logs") or {}).values())
    report = mor.maintain(max_bucket_logs=3)
    assert report["log_compaction"]
    assert not any((mor.manifest().get("logs") or {}).values())
    assert _state(mor) == {("r1", "a.py"): "u3"}


def test_mor_rollback_restores_log_state(spark, tmp_path):
    _, mor = _twin_tables(spark, tmp_path, n_batches=2)
    s2 = mor.current_snapshot_id()
    state2 = _state(mor)
    _batch(spark, mor, BATCHES[2], 2)
    assert _state(mor) != state2
    mor.rollback(s2)
    assert _state(mor) == state2


def test_mor_clone_copies_log_files(spark, tmp_path):
    _, mor = _twin_tables(spark, tmp_path)
    clone = mor.clone_to(str(tmp_path / "clone"))
    assert _state(clone) == _state(mor)
    # exactly-once carries over: replaying an applied epoch is a no-op
    before = clone.current_snapshot_id()
    _batch(spark, clone, BATCHES[2], 2)
    assert clone.current_snapshot_id() == before


def test_mor_snapshot_expiry_keeps_live_log_files(spark, tmp_path):
    _, mor = _twin_tables(spark, tmp_path)
    state = _state(mor)
    mor.expire_snapshots(keep=1)
    assert _state(mor) == state
    mor.remove_orphan_files(older_than_seconds=0)
    assert _state(mor) == state


def test_mor_schema_evolution_in_logs(spark, tmp_path):
    mor = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor"
    )
    _batch(spark, mor, [_ev(1, "insert", "r1", "a.py", "v1")], 0)
    wide = T.StructType(
        CHANGELOG_SCHEMA.fields
        + [T.StructField("stars", T.LongType())]
    )
    df = spark.createDataFrame(
        [(2, "update", "r1", "a.py", "c2", "python", "v2", None, None, 7)],
        wide,
    )
    apply_batch(df, mor, "mor", 1)
    rows = mor.read().collect()
    assert {(r["path"], r["content"], r["stars"]) for r in rows} == {
        ("a.py", "v2", 7)
    }


def test_mor_partial_update_falls_back_to_cow(spark, tmp_path):
    """Partial (sparse) updates need the stored row at merge time to fill
    unchanged columns — read-time LWW cannot reconstruct them — so a
    partial_update merge on a MOR table runs copy-on-write for that
    batch."""
    mor = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor"
    )
    _batch(spark, mor, [_ev(1, "insert", "r1", "a.py", "v1")], 0)
    sparse = spark.createDataFrame(
        [(2, "update", "r1", "a.py", "c2", None, None, None, 99)],
        CHANGELOG_SCHEMA,
    ).withColumn("is_deleted", F.lit(False))
    mor.merge(sparse, "sparse", 0, partial_update=True)
    rows = mor.read().collect()
    assert [(r["content"], r["size_bytes"]) for r in rows] == [("v1", 99)]
    assert not any((mor.manifest().get("logs") or {}).values())


def test_create_rejects_unknown_merge_mode(spark, tmp_path):
    with pytest.raises(ValueError):
        ManifestTable.create(
            spark, str(tmp_path / "t"), merge_mode="upsert"
        )


def test_cli_mor_replay_and_compact(spark, tmp_path, capsys, monkeypatch):
    import json

    from vuln_datasync_spark import cli
    from vuln_datasync_spark.datagen import (
        generate_changelog_pandas,
        write_changelog,
    )

    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    log1, log2 = tmp_path / "log1", tmp_path / "log2"
    ev = generate_changelog_pandas(1200, seed=7)
    write_changelog(ev.iloc[:800], str(log1), n_files=2)
    write_changelog(ev.iloc[800:], str(log2), n_files=2)
    tbl = str(tmp_path / "tbl")
    assert cli.main([
        "replay", "--changelog", str(log1), "--table", tbl,
        "--merge-mode", "mor", "--buckets", "8",
    ]) == 0
    capsys.readouterr()
    assert cli.main([
        "replay", "--changelog", str(log2), "--table", tbl,
        "--batch-id", "1",
    ]) == 0
    capsys.readouterr()
    t = ManifestTable(spark, tbl)
    assert t.merge_mode == "mor"
    assert any((t.manifest().get("logs") or {}).values())
    before = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in t.read().collect()
    }
    assert cli.main(["compact", "--table", tbl, "--logs"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["log_compaction"]
    t2 = ManifestTable(spark, tbl)
    assert not any((t2.manifest().get("logs") or {}).values())
    after = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in t2.read().collect()
    }
    assert after == before


def test_mor_streaming_ingest_matches_oracle(spark, tmp_path):
    """Streaming is where MOR pays off (every micro-batch is a small
    merge): pre-create the table with merge_mode=mor, drain the changelog
    in multiple triggers — merges append logs, no bucket rewrites — and
    the resolved state still equals the pandas replay oracle; compaction
    then changes nothing."""
    from vuln_datasync_spark.datagen import (
        generate_changelog_pandas,
        write_changelog,
    )
    from vuln_datasync_spark.streaming.pipeline import run_stream

    from .test_cdc_e2e import CHANGELOG_SCHEMA, assert_state_matches

    ev = generate_changelog_pandas(4000, seed=77)
    log_dir = tmp_path / "log"
    write_changelog(ev, str(log_dir), n_files=6)
    ManifestTable.create(
        spark, str(tmp_path / "table"), n_buckets=8, merge_mode="mor"
    )
    table = run_stream(
        spark,
        str(log_dir),
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        CHANGELOG_SCHEMA,
        max_files_per_trigger=2,
    )
    assert table.read_lineage().select("batch_id").distinct().count() == 3
    assert any((table.manifest().get("logs") or {}).values())
    assert_state_matches(table, ev)
    table.compact_logs()
    assert not any((table.manifest().get("logs") or {}).values())
    assert_state_matches(table, ev)


def _bucket_of(spark, repo, path, n_buckets):
    return spark.sql(
        f"SELECT pmod(xxhash64('{repo}', '{path}'), {n_buckets}) AS b"
    ).collect()[0]["b"]


def test_merge_into_logs_only_bucket_keeps_prior_rows(spark, tmp_path):
    """Regression: a bucket whose ONLY data is MOR log files (its first
    rows arrived via a mor_write that qualified because a sibling bucket
    had base files) must count as 'stored'. Before the fix, a later merge
    touching only that bucket saw stored_files=False, took the bulk-append
    fast path (no target read), and the COW commit branch popped the
    bucket's log entries — the earlier rows silently vanished."""
    nb = 4
    # probe keys into buckets: one base key, two keys sharing a DIFFERENT
    # bucket than the base key
    keys = [("r%d" % i, "f%d.py" % i) for i in range(40)]
    by_bucket = {}
    for r, p in keys:
        by_bucket.setdefault(_bucket_of(spark, r, p, nb), []).append((r, p))
    base_b = next(b for b, ks in by_bucket.items() if len(ks) >= 1)
    log_b = next(
        b for b, ks in by_bucket.items() if b != base_b and len(ks) >= 2
    )
    (kr, kp) = by_bucket[base_b][0]
    (ar, ap), (br, bp) = by_bucket[log_b][:2]

    t = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=nb, merge_mode="mor"
    )
    # batch 0: base file in base_b only (fresh table -> bulk append)
    _batch(spark, t, [_ev(1, "insert", kr, kp, "base")], 0)
    assert str(base_b) in t.manifest()["files"]
    # batch 1: touches base_b (has base files) AND log_b (empty) ->
    # mor_write -> log_b becomes logs-only
    _batch(
        spark,
        t,
        [_ev(2, "update", kr, kp, "base2"), _ev(3, "insert", ar, ap, "vA")],
        1,
    )
    m = t.manifest()
    assert str(log_b) not in m["files"] and str(log_b) in (m["logs"] or {})
    # batch 2: touches ONLY the logs-only bucket
    _batch(spark, t, [_ev(4, "insert", br, bp, "vB")], 2)
    state = _state(t)
    assert state[(ar, ap)] == "vA"  # the row the bug used to drop
    assert state[(br, bp)] == "vB"
    assert state[(kr, kp)] == "base2"
    # and the logs-only bucket honored mor=True: appended, not rewritten
    assert str(log_b) in (t.manifest()["logs"] or {})


def test_cow_merge_into_logs_only_bucket_folds_logs(spark, tmp_path):
    """Same planted layout, but the follow-up merge forces mor=False: the
    COW rewrite must READ the outstanding log rows and fold them into the
    new base files (not drop them when it pops the log manifest entry)."""
    nb = 4
    keys = [("r%d" % i, "f%d.py" % i) for i in range(40)]
    by_bucket = {}
    for r, p in keys:
        by_bucket.setdefault(_bucket_of(spark, r, p, nb), []).append((r, p))
    base_b = next(b for b, ks in by_bucket.items() if len(ks) >= 1)
    log_b = next(
        b for b, ks in by_bucket.items() if b != base_b and len(ks) >= 2
    )
    (kr, kp) = by_bucket[base_b][0]
    (ar, ap), (br, bp) = by_bucket[log_b][:2]

    t = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=nb, merge_mode="mor"
    )
    _batch(spark, t, [_ev(1, "insert", kr, kp, "base")], 0)
    _batch(
        spark,
        t,
        [_ev(2, "update", kr, kp, "base2"), _ev(3, "insert", ar, ap, "vA")],
        1,
    )
    from vuln_datasync_spark.functions.normalize import normalize_events
    from vuln_datasync_spark.operators.lww import lww_resolve

    winners = lww_resolve(
        normalize_events(
            spark.createDataFrame(
                [_ev(4, "insert", br, bp, "vB")], CHANGELOG_SCHEMA
            )
        )
    )
    t.merge(winners, checkpoint_id="cow-fold", batch_id=0, mor=False)
    m = t.manifest()
    assert str(log_b) not in (m.get("logs") or {})  # folded
    state = _state(t)
    assert state[(ar, ap)] == "vA"
    assert state[(br, bp)] == "vB"


def test_ties_across_commits_keep_the_first_copy(spark, tmp_path):
    """An exact tie on (commit_seq, commit, op) split over two commits,
    the second with a column the first lacked: both table kinds keep the
    first copy on every read of a snapshot and after compaction, and the
    change feed between the tied commits is empty."""
    narrow = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name != "size_bytes"]
    )
    keys = [(f"r{k % 5}", f"src/f{k}.py") for k in range(400)]

    def rows(seq, content, *extra):
        return [
            (seq, "update", r, p, f"c{seq}", "python", content + p, None,
             *extra)
            for r, p in keys
        ]

    want = {(r, p): ("w-" + p, None) for r, p in keys}
    for mode in ("mor", "cow"):
        t = ManifestTable.create(
            spark, str(tmp_path / mode), n_buckets=4, merge_mode=mode
        )

        def copies(sid=None):
            return {
                (r["repo"], r["path"]): (r["content"], r["size_bytes"])
                for r in t.read(snapshot_id=sid).collect()
            }

        apply_batch(spark.createDataFrame(rows(1, "v-"), narrow), t, "tie", 0)
        apply_batch(spark.createDataFrame(rows(10, "w-"), narrow), t, "tie", 1)
        s1 = t.current_snapshot_id()
        apply_batch(
            spark.createDataFrame(rows(10, "w-", 240), CHANGELOG_SCHEMA),
            t, "tie", 2,
        )
        s2 = t.current_snapshot_id()
        if mode == "mor":
            assert all(len(ps) == 2 for ps in t.manifest()["logs"].values())
        assert t.read_changes(s1, s2).count() == 0, mode
        assert copies(s2) == want, mode
        assert copies(s2) == want, mode
        t.compact_logs()
        assert copies() == want, mode
