"""Export sink (S15) and changelog sources (P9/S6)."""

from pyspark.sql import functions as F

from vuln_datasync_spark.sinks.export import export_df
from vuln_datasync_spark.sources.changelog import read_changelog_batch


def test_export_json_and_csv(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", ["a", "b"]), (2, "y", ["c"])], "id long, s string, arr array<string>"
    )
    rec = export_df(df, str(tmp_path / "j"), fmt="json", compression=True)
    assert rec["rows"] == 2 and rec["compression"]
    back = spark.read.json(str(tmp_path / "j"))
    assert back.count() == 2
    rec2 = export_df(df, str(tmp_path / "c"), fmt="csv")
    back2 = spark.read.option("header", True).csv(str(tmp_path / "c"))
    assert back2.count() == 2  # nested col stringified, not dropped
    assert "arr" in back2.columns


def test_changelog_incremental_read(spark, tmp_path):
    from vuln_datasync_spark.datagen import generate_changelog_pandas, write_changelog

    ev = generate_changelog_pandas(1000, seed=5)
    write_changelog(ev, str(tmp_path / "log"), n_files=2)
    full = read_changelog_batch(spark, str(tmp_path / "log"))
    inc = read_changelog_batch(spark, str(tmp_path / "log"), since_seq=500)
    assert full.count() == len(ev)
    assert inc.agg(F.min("commit_seq")).first()[0] == 501


def test_export_run_tracking(spark, tmp_path, capsys, monkeypatch):
    """Every export is recorded in the table's _exports run log (reference
    exports table, migrations/001_initial_schema.up.sql:95-108), surfaced
    by `stats`, and covered by compaction."""
    import json as _json

    from vuln_datasync_spark import cli
    from vuln_datasync_spark.sinks.export import export_table
    from vuln_datasync_spark.sinks.manifest_table import ManifestTable

    root = str(tmp_path / "tbl")
    table = ManifestTable.create(
        spark, root, n_buckets=2, key_cols=("vuln_id",)
    )
    df = spark.createDataFrame(
        [("V-1", 1, "c1", "insert"), ("V-2", 2, "c2", "insert")],
        "vuln_id string, commit_seq long, commit string, op string",
    )
    table.merge(df, checkpoint_id="t", batch_id=0)

    rec = export_table(table, str(tmp_path / "out1"), fmt="json")
    assert rec["status"] == "completed" and rec["rows"] == 2
    assert rec["file_bytes"] > 0
    export_table(table, str(tmp_path / "out2"), fmt="csv", compression=True)

    runs = {r["export_id"]: r for r in table.read_exports().collect()}
    assert len(runs) == 2
    formats = {r["format"] for r in runs.values()}
    assert formats == {"json", "csv"}
    assert all(r["snapshot_id"] == table.current_snapshot_id()
               for r in runs.values())

    # stats surfaces the runs
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    assert cli.main(["stats", "--table", root]) == 0
    out = _json.loads(capsys.readouterr().out.strip())
    assert out["exports"] == 2
    assert out["last_export"]["format"] in ("json", "csv")

    # compaction folds the per-run files into one, rows preserved
    res = table.compact_exports(max_files=1)
    assert res["compacted"] == 2 and res["files_after"] == 1
    assert table.read_exports().count() == 2


def test_export_incremental_delta_then_noop_then_expired_base(
    spark, tmp_path
):
    """export_incremental ships only the change feed since the last
    export; a no-change call records rows=0; an expired base falls back
    to a full export (mode recorded)."""
    from vuln_datasync_spark.sinks.export import (
        export_incremental,
        export_table,
    )
    from vuln_datasync_spark.sinks.manifest_table import ManifestTable
    from vuln_datasync_spark.streaming.pipeline import apply_batch

    from .test_cdc_e2e import CHANGELOG_SCHEMA

    def _ev(seq, op, path, content):
        return (seq, op, "r1", path, f"c{seq}", "py", content, None, None)

    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(
        spark.createDataFrame(
            [_ev(1, "insert", "a.py", "v1"), _ev(2, "insert", "b.py", "v2")],
            CHANGELOG_SCHEMA,
        ),
        t, "exp", 0,
    )
    full = export_table(t, str(tmp_path / "e0"))
    assert full["mode"] == "full" and full["rows"] == 2

    apply_batch(
        spark.createDataFrame(
            [_ev(3, "update", "a.py", "v3"), _ev(4, "delete", "b.py", None)],
            CHANGELOG_SCHEMA,
        ),
        t, "exp", 1,
    )
    inc = export_incremental(t, str(tmp_path / "e1"))
    assert inc["mode"] == "incremental" and inc["rows"] == 2
    assert inc["base_snapshot_id"] == full["snapshot_id"]
    feed = {
        (r["path"], r["_change_type"])
        for r in spark.read.json(str(tmp_path / "e1")).collect()
    }
    assert feed == {("a.py", "update"), ("b.py", "delete")}

    # nothing changed since -> empty incremental, recorded anyway
    noop = export_incremental(t, str(tmp_path / "e2"))
    assert noop["mode"] == "incremental" and noop["rows"] == 0

    # expire the base snapshot out from under the next incremental
    for mp in __import__("glob").glob(
        str(tmp_path / "t" / "_manifests" / "*.json")
    ):
        if noop["snapshot_id"] not in mp and t.current_snapshot_id() not in mp:
            import os as _os

            if _os.path.basename(mp)[:-5] != t.current_snapshot_id():
                _os.remove(mp)
    apply_batch(
        spark.createDataFrame(
            [_ev(5, "insert", "c.py", "v5")], CHANGELOG_SCHEMA
        ),
        t, "exp", 2,
    )
    # drop the recorded base manifest specifically
    base_mp = str(
        tmp_path / "t" / "_manifests" / f"{noop['snapshot_id']}.json"
    )
    import os as _os

    if _os.path.exists(base_mp):
        _os.remove(base_mp)
    fb = export_incremental(t, str(tmp_path / "e3"))
    assert fb["mode"] == "full" and fb["rows"] == 2  # a.py + c.py live

    # sidecar compaction must not re-infer types for the nullable
    # string columns (mode/base_snapshot_id absent or null in old rows)
    t.compact_exports(max_files=1)
    ex = t.read_exports()
    assert ex.count() == 4
    assert ex.filter("mode = 'incremental'").count() == 2
