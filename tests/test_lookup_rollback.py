"""ManifestTable.lookup (bucket-pruned point reads) and
ManifestTable.rollback (metadata-only snapshot restore): correctness,
pruning evidence via inputFiles, epoch re-open semantics, and survival
of referenced files across expire_snapshots."""

import pytest
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


def _batch(spark, table, rows, bid, ckpt="lk"):
    return apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), table, ckpt, bid
    )


def _rows(n, op="insert", rev="c1", val="v"):
    return [
        (i + 1, op, f"r{i % 7}", f"f{i}.py", rev, "python", f"{val}{i}", None, None)
        for i in range(n)
    ]


def _state(table):
    return {
        (r["repo"], r["path"]): r["content"] for r in table.read().collect()
    }


def test_lookup_exact_rows_and_empty(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    _batch(spark, table, _rows(40), 0)
    got = table.lookup([("r0", "f0.py"), ("r3", "f3.py")]).collect()
    assert {(r["repo"], r["path"], r["content"]) for r in got} == {
        ("r0", "f0.py", "v0"),
        ("r3", "f3.py", "v3"),
    }
    # miss -> empty, not error
    assert table.lookup([("rX", "nope.py")]).count() == 0
    assert table.lookup([]).count() == 0
    with pytest.raises(ValueError, match="key must have"):
        table.lookup(["just-one-value"])
    # an unknown snapshot id fails loudly instead of reading as empty
    bad = "no-such-snap"
    for call in (
        lambda: table.read(bad),
        lambda: table.lookup([("r0", "f0.py")], snapshot_id=bad),
        lambda: table.count_rows(bad),
        lambda: table.prune_report({"commit_seq": (0, None)}, snapshot_id=bad),
    ):
        with pytest.raises(ValueError, match="unknown snapshot 'no-such-snap'"):
            call()
    # the head of an empty table still reads as empty
    empty = ManifestTable.create(spark, str(tmp_path / "e"), n_buckets=2)
    assert empty.read().count() == 0
    assert empty.count_rows() == 0


def test_lookup_prunes_files(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=16)
    _batch(spark, table, _rows(200), 0)
    full = set(table.read().inputFiles())
    probe = table.lookup([("r1", "f1.py")])
    probed = set(probe.inputFiles())
    assert probed and probed < full
    # one key -> exactly one bucket's files
    assert len(probed) == len(
        {f.rsplit("bucket=", 1)[1].split("/")[0] for f in probed}
    )


def test_lookup_respects_tombstones_and_rebucket(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(spark, table, _rows(30), 0)
    _batch(
        spark,
        table,
        [(100, "delete", "r1", "f1.py", "c9", None, None, None, None)],
        1,
    )
    assert table.lookup([("r1", "f1.py")]).count() == 0
    table.rebucket(9)
    got = table.lookup([("r2", "f2.py")]).collect()
    assert [(r["repo"], r["path"]) for r in got] == [("r2", "f2.py")]


def test_rollback_restores_state_and_reopens_epochs(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(spark, table, _rows(12), 0)
    s_good = table.current_snapshot_id()
    good = _state(table)

    bad = [
        (50, "update", "r0", "f0.py", "cbad", "python", "CORRUPT", None, None),
        (51, "insert", "r9", "junk.py", "cbad", "python", "JUNK", None, None),
    ]
    _batch(spark, table, bad, 1)
    s_bad = table.current_snapshot_id()
    assert _state(table) != good

    sid = table.rollback(s_good)
    assert table.current_snapshot_id() == sid
    assert _state(table) == good
    # change feed across the rollback shows the inverse of the bad batch
    ch = {
        (r["repo"], r["path"]): r["_change_type"]
        for r in table.read_changes(s_bad, sid).collect()
    }
    assert ch[("r9", "junk.py")] == "delete"
    assert ch[("r0", "f0.py")] == "update"
    # the rolled-back epoch re-opens: replaying batch 1 applies again
    lin = _batch(spark, table, bad, 1)
    assert lin is not None and lin["rows_applied"] == 2
    assert _state(table)[("r0", "f0.py")] == "CORRUPT"


def test_rollback_edge_cases_and_lineage(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(spark, table, _rows(5), 0)
    cur = table.current_snapshot_id()
    assert table.rollback(cur) == cur  # no-op, no new snapshot
    with pytest.raises(ValueError, match="unknown snapshot"):
        table.rollback("not-a-snapshot")
    _batch(spark, table, _rows(5, op="update", rev="c2", val="w"), 1)
    sid = table.rollback(cur)
    row = (
        table.read_lineage()
        .where(f"snapshot_id = '{sid}'")
        .collect()
    )
    assert len(row) == 1 and row[0]["rows_applied"] == 0
    assert row[0]["checkpoint_id"] == f"rollback:{cur}"


def test_expire_keeps_files_referenced_by_rollback(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(spark, table, _rows(20), 0)
    s_good = table.current_snapshot_id()
    good = _state(table)
    _batch(spark, table, _rows(20, op="update", rev="c2", val="w"), 1)
    table.rollback(s_good)
    # keep only the newest manifest: the rollback snapshot references the
    # ORIGINAL snap-* files, which must survive the orphan sweep
    table.expire_snapshots(keep=1)
    assert _state(table) == good


def test_cli_rollback(spark, tmp_path, capsys, monkeypatch):
    import json

    from vuln_datasync_spark import cli

    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(spark, table, _rows(8), 0)
    s_good = table.current_snapshot_id()
    good = _state(table)
    _batch(spark, table, _rows(8, op="update", rev="c2", val="w"), 1)

    assert (
        cli.main(["rollback", "--table", str(tmp_path / "t"), "--snapshot", s_good])
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip())
    assert out["rolled_back_to"] == s_good
    assert _state(ManifestTable(spark, str(tmp_path / "t"))) == good
    # vacuum keeps every file some manifest references
    assert cli.main(["vacuum", "--table", str(tmp_path / "t"), "--older-than", "0"]) == 0
    assert json.loads(capsys.readouterr().out)["removed"] == []
    assert _state(ManifestTable(spark, str(tmp_path / "t"))) == good
