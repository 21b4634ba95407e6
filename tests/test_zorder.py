"""Z-order clustering: after cluster(zorder=[a, b]), zone maps prune
files for range probes on EITHER dimension — unlike a linear sort,
which only prunes the leading column. Logical state must be unchanged."""

import pytest

from vuln_datasync_spark.sinks.manifest_table import ManifestTable
from vuln_datasync_spark.sinks.zorder import global_bounds, zorder_expr

from .test_change_feed import CHANGELOG_SCHEMA, _batch


def _rows(n):
    # size_bytes is a modular permutation of commit_seq: the two dims
    # are decorrelated, so a linear sort on one leaves the other random
    return [
        (
            i,
            "insert",
            f"r{i}",
            f"f{i}.py",
            f"c{i}",
            "python",
            f"v{i}",
            None,
            (i * 193) % 400,
        )
        for i in range(n)
    ]


def _skipped(table, rf):
    rep = table.prune_report(rf)
    return len(rep["skipped"]), len(rep["skipped"]) + len(rep["kept"])


@pytest.fixture()
def pair(spark, tmp_path):
    zt = ManifestTable.create(spark, str(tmp_path / "z"), n_buckets=1)
    lt = ManifestTable.create(spark, str(tmp_path / "l"), n_buckets=1)
    for t in (zt, lt):
        _batch(spark, t, _rows(400), 0)
    zt.cluster(zorder=["commit_seq", "size_bytes"], target_file_rows=25)
    lt.cluster(sort_by=["commit_seq"], target_file_rows=25)
    return zt, lt


def test_zorder_prunes_both_dimensions(pair):
    zt, lt = pair
    n_files = sum(len(p) for p in zt.manifest()["files"].values())
    assert n_files >= 8  # the rewrite actually split files

    # leading-dim probe: both layouts prune
    s_z, tot_z = _skipped(zt, {"commit_seq": (0, 49)})
    s_l, _ = _skipped(lt, {"commit_seq": (0, 49)})
    assert s_z >= tot_z // 3
    assert s_l >= tot_z // 2  # linear sort is naturally best here

    # second-dim probe: only the z-ordered layout prunes
    s_z2, _ = _skipped(zt, {"size_bytes": (0, 49)})
    s_l2, _ = _skipped(lt, {"size_bytes": (0, 49)})
    assert s_z2 >= tot_z // 3
    assert s_l2 == 0

    # correctness: pruned read == full-scan filter, both dims
    for rf in ({"commit_seq": (0, 49)}, {"size_bytes": (100, 149)}):
        got = {
            r["repo"] for r in zt.read(range_filters=rf).collect()
        }
        (c, (lo, hi)), = rf.items()
        exp = {
            r["repo"]
            for r in zt.read().collect()
            if lo <= r[c] <= hi
        }
        assert got == exp and got


def test_zorder_preserves_logical_state(pair):
    zt, _ = pair
    rows = {(r["repo"], r["path"], r["content"], r["size_bytes"])
            for r in zt.read().collect()}
    assert len(rows) == 400
    assert ("r7", "f7.py", "v7", (7 * 193) % 400) in rows
    # the helper sort key never leaks into the schema
    assert "_zkey" not in zt.read().columns


def test_zorder_validation(spark, tmp_path):
    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=1)
    _batch(spark, t, _rows(20), 0)
    with pytest.raises(ValueError, match="exactly one"):
        t.cluster()
    with pytest.raises(ValueError, match="exactly one"):
        t.cluster(sort_by=["commit_seq"], zorder=["commit_seq", "size_bytes"])
    with pytest.raises(ValueError, match="at least 2"):
        t.cluster(zorder=["commit_seq"])
    with pytest.raises(ValueError, match="no zone-map bounds"):
        t.cluster(zorder=["content", "commit_seq"])
    m = t.manifest()
    b = global_bounds(m, ["commit_seq", "size_bytes"])
    assert b["commit_seq"] == (0, 19)
    with pytest.raises(ValueError, match="exceeds a long"):
        from pyspark.sql import types as T

        zorder_expr(
            ["commit_seq", "size_bytes"],
            b,
            T.StructType.fromJson(m["schema"]),
            bits=32,
        )


def test_zorder_on_a_double_column(spark, tmp_path):
    """A double column z-orders and prunes like a long one; a NaN row
    (ordered above every number) leaves only its own file unbounded."""
    from pyspark.sql import functions as F

    t = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=1, target_file_rows=25
    )
    df = spark.createDataFrame(_rows(400), CHANGELOG_SCHEMA).withColumn(
        "weight",
        F.when(F.col("commit_seq") == 7, F.lit(float("nan"))).otherwise(
            F.col("size_bytes") / 4.0
        ),
    )
    t.merge(df, "zd", 0)
    before = {(r["repo"], str(r["weight"])) for r in t.read().collect()}
    # the files written in arrival order bound weight, all but the one
    # holding NaN
    zones = [
        fm["cols"]["weight"] for fm in t.manifest()["file_meta"].values()
    ]
    assert len(zones) == 16 and sum(hi is None for _, hi in zones) == 1
    t.cluster(zorder=["commit_seq", "weight"], target_file_rows=25)
    after = t.read().collect()
    assert {(r["repo"], str(r["weight"])) for r in after} == before
    zones = [
        fm["cols"]["weight"] for fm in t.manifest()["file_meta"].values()
    ]
    assert len(zones) >= 8
    assert sum(hi is None for _, hi in zones) == 1
    s, tot = _skipped(t, {"weight": (0.0, 12.0)})
    assert s >= tot // 3
    rf = {"weight": (0.0, 12.0)}
    got = {r["repo"] for r in t.read(range_filters=rf).collect()}
    assert got == {r["repo"] for r in after if 0.0 <= r["weight"] <= 12.0}
