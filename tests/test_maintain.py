"""Always-clustered write layout (write_sort + target_file_rows) and the
stat-driven maintain() pass: zone-decay detection from manifest JSON,
tombstone-fraction expiry, and the CLI surface."""

import json
import random

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


def _rows(seqs, op="insert"):
    return [
        (s, op, "r0", f"f{s}.py", f"c{s}", "py", f"v{s}", None, None)
        for s in seqs
    ]


def _apply(spark, table, rows, bid, ckpt="mt"):
    return apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), table, ckpt, bid
    )


def _state(table):
    return sorted(
        (r["path"], r["commit_seq"]) for r in table.read().collect()
    )


def test_write_sort_layout_splits_and_prunes(spark, tmp_path):
    table = ManifestTable.create(
        spark,
        str(tmp_path / "t"),
        n_buckets=2,
        write_sort=("commit_seq",),
        target_file_rows=20,
    )
    seqs = list(range(1, 201))
    random.Random(7).shuffle(seqs)  # arrival order is NOT seq order
    _apply(spark, table, _rows(seqs), 0)

    m = table.manifest()
    assert all(len(ps) >= 4 for ps in m["files"].values())
    # files within each bucket carry DISJOINT seq ranges (sorted at write)
    for ps in m["files"].values():
        rngs = sorted(
            tuple(m["file_meta"][p]["cols"]["commit_seq"]) for p in ps
        )
        for (a_lo, a_hi), (b_lo, b_hi) in zip(rngs, rngs[1:]):
            assert a_hi < b_lo
    rep = table.prune_report({"commit_seq": (180, 190)})
    assert len(rep["skipped"]) > len(rep["kept"])
    got = table.read(range_filters={"commit_seq": (180, 190)})
    assert sorted(r["commit_seq"] for r in got.collect()) == list(
        range(180, 191)
    )

    # a second merge keeps the layout (touched buckets re-sorted)
    _apply(spark, table, _rows(range(1001, 1051)), 1)
    m2 = table.manifest()
    for ps in m2["files"].values():
        rngs = sorted(
            tuple(m2["file_meta"][p]["cols"]["commit_seq"]) for p in ps
        )
        for (a_lo, a_hi), (b_lo, b_hi) in zip(rngs, rngs[1:]):
            assert a_hi < b_lo


def test_maintain_detects_zone_overlap_and_reclusters(spark, tmp_path):
    # target_file_rows WITHOUT write_sort: files split in arrival order,
    # so interleaved seqs produce overlapping per-file zones
    table = ManifestTable.create(
        spark,
        str(tmp_path / "t"),
        n_buckets=2,
        target_file_rows=25,
    )
    seqs = list(range(1, 201))
    random.Random(3).shuffle(seqs)
    _apply(spark, table, _rows(seqs), 0)
    before = _state(table)

    rep = table.maintain(cluster_sort=("commit_seq",))
    assert rep["clustered_buckets"], rep
    assert "zone-overlap" in rep["cluster_reason"]
    assert _state(table) == before

    m = table.manifest()
    for ps in m["files"].values():
        rngs = sorted(
            tuple(m["file_meta"][p]["cols"]["commit_seq"]) for p in ps
        )
        for (a_lo, a_hi), (b_lo, b_hi) in zip(rngs, rngs[1:]):
            assert a_hi < b_lo

    # second pass: layout is healthy, nothing to recluster
    rep2 = table.maintain(cluster_sort=("commit_seq",))
    assert rep2["clustered_buckets"] == []


def test_maintain_converges_on_a_double_cluster_column(spark, tmp_path):
    """Zone maps of a double column keep their max unless the file holds
    NaN, so one recluster by it leaves disjoint files and the next pass
    finds nothing to do."""
    from pyspark.sql import functions as F

    table = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, target_file_rows=25
    )
    seqs = list(range(1, 201))
    random.Random(5).shuffle(seqs)
    df = spark.createDataFrame(_rows(seqs), CHANGELOG_SCHEMA).withColumn(
        "weight",
        F.when(F.col("commit_seq") % 50 == 7, F.lit(float("nan"))).otherwise(
            (F.col("commit_seq") * 37 % 211) / 4.0
        ),
    )
    table.merge(df, "mt", 0)
    before = _state(table)

    rep = table.maintain(cluster_sort=("weight",))
    assert rep["clustered_buckets"], rep
    assert "zone-overlap" in rep["cluster_reason"]
    assert _state(table) == before
    m = table.manifest()
    for ps in m["files"].values():
        rngs = sorted(
            tuple(m["file_meta"][p]["cols"]["weight"]) for p in ps
        )
        assert rngs[-1][1] is None  # NaN sorts into the last file
        for (a_lo, a_hi), (b_lo, b_hi) in zip(rngs, rngs[1:]):
            assert a_hi < b_lo

    rep2 = table.maintain(cluster_sort=("weight",))
    assert rep2["clustered_buckets"] == []


def test_maintain_tombstone_fraction_rule(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    _apply(spark, table, _rows(range(1, 21)), 0)
    table.delete_where("commit_seq <= 8", batch_id=1)

    # no watermark -> report only, no expiry
    rep = table.maintain()
    assert rep["tombstones_expired"] is None
    assert rep["tombstone_fraction"] > 0.2

    rep = table.maintain(tombstone_watermark=10**9)
    assert rep["tombstones_expired"] is not None
    assert (
        table.read(include_tombstones=True).filter("is_deleted").count() == 0
    )
    assert table.read().count() == 12

    # fraction now below threshold: second pass is a no-op
    rep2 = table.maintain(tombstone_watermark=10**9)
    assert rep2["tombstones_expired"] is None


def test_cli_maintain(spark, tmp_path, capsys, monkeypatch):
    from vuln_datasync_spark import cli

    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    tbl = str(tmp_path / "t")
    table = ManifestTable.create(spark, tbl, n_buckets=2, target_file_rows=25)
    seqs = list(range(1, 101))
    random.Random(1).shuffle(seqs)
    _apply(spark, table, _rows(seqs), 0)

    assert (
        cli.main(
            ["maintain", "--table", tbl, "--cluster-by", "commit_seq"]
        )
        == 0
    )
    rep = json.loads(capsys.readouterr().out.strip())
    assert rep["clustered_buckets"]
    assert rep["snapshots"] >= 1
