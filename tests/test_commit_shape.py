"""Shape of a ManifestTable commit: how many Spark jobs one apply runs,
how many exchanges its write plans, and that the zone maps taken from
parquet footers equal the ones a Spark scan of the same files gives.

A copy-on-write commit routes target ∪ batch to write tasks by bucket in
one exchange and resolves LWW after it; stats come from the footers with
no Spark job. A second exchange or a stats scan shows up here as a job
or an Exchange too many."""

import datetime as dt
import math
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from vuln_datasync_spark.sinks.manifest_table import ManifestTable
from vuln_datasync_spark.sinks.manifest_table import logger as mt_logger
from vuln_datasync_spark.streaming.pipeline import apply_batch

from .test_zone_maps import CHANGELOG_SCHEMA


def _events(spark, lo, hi, *, op="insert", seq_add=0, path=None, ts=True):
    """One event per key ``k`` in ``[lo, hi)``, 5 repos."""
    rows = [
        (
            k + seq_add,
            op,
            f"r{k % 5}",
            path(k) if path else f"src/f{k}.py",
            f"c{k + seq_add}",
            "python",
            f"v{k}-{seq_add}",
            dt.datetime(2026, 1, 1) + dt.timedelta(minutes=k + seq_add)
            if ts and k % 6
            else None,
            k * 10,
        )
        for k in range(lo, hi)
    ]
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


def _jobs(spark, tag, fn):
    """Run ``fn`` under job group ``tag``; return its result and the
    number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _nodes(plan, ancestors=()):
    """(node name, ancestor names) for every node of a physical plan;
    an adaptive plan is walked through its current plan."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    name = plan.nodeName()
    yield name, ancestors
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i), ancestors + (name,))


@pytest.fixture
def snapshot_plans(monkeypatch):
    """Physical plans of the frames written as snapshot data, planned
    just before each write (while the merge's batch is still cached)."""
    plans = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        if "snap-" in str(path):
            plans.append(
                list(_nodes(self._df._jdf.queryExecution().executedPlan()))
            )
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


def test_apply_batch_job_count_and_one_file_per_bucket(spark, tmp_path):
    assert spark.sparkContext.defaultParallelism == 4
    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=16)
    lin, bulk_jobs = _jobs(
        spark, "bulk", lambda: apply_batch(_events(spark, 0, 400), t, "js", 0)
    )
    assert len(lin["buckets"]) == 16
    assert bulk_jobs <= 6, bulk_jobs
    upserts = _events(spark, 200, 600, seq_add=1000)
    lin, cow_jobs = _jobs(
        spark, "cow", lambda: apply_batch(upserts, t, "js", 1)
    )
    assert cow_jobs <= 6, cow_jobs
    files = t.manifest()["files"]
    sid = t.current_snapshot_id()
    for b in lin["buckets"]:
        assert len(files[b]) == 1, (b, files[b])
        assert f"snap-{sid}" in files[b][0]


def test_cow_write_plans_one_exchange_above_the_union(
    spark, tmp_path, snapshot_plans
):
    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=16)
    apply_batch(_events(spark, 0, 200), t, "px", 0)
    apply_batch(_events(spark, 100, 300, seq_add=1000), t, "px", 1)
    nodes = snapshot_plans[-1]
    unions = [anc for name, anc in nodes if name == "Union"]
    assert len(unions) == 1, nodes
    exchanges = [anc for name, anc in nodes if name == "Exchange"]
    assert len(exchanges) == 1, nodes
    assert unions[0].count("Exchange") == 1, nodes
    assert "Window" in unions[0]  # the LWW resolve runs above the union


def test_compact_logs_plans_one_exchange(spark, tmp_path, snapshot_plans):
    t = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=8, merge_mode="mor"
    )
    apply_batch(_events(spark, 0, 200), t, "pc", 0)
    apply_batch(_events(spark, 100, 300, seq_add=1000), t, "pc", 1)
    assert any((t.manifest().get("logs") or {}).values())
    before = sorted(map(tuple, t.read().collect()))
    snapshot_plans.clear()
    assert t.compact_logs() is not None
    (nodes,) = snapshot_plans
    names = [name for name, _ in nodes]
    assert names.count("Exchange") == 1, nodes
    assert names.count("Window") == 1, nodes
    assert sorted(map(tuple, t.read().collect())) == before


# ---------- footer stats vs the Spark scan ----------


def _scan_stats(table, snap_dir):
    """Reference: per-file zone maps and per-bucket tombstone stats of
    ``snap_dir`` computed by one Spark scan, as the engine recorded them
    before stats were taken from parquet footers."""
    import re

    df = table.spark.read.parquet(snap_dir)
    zcols = table._zone_cols(df.schema)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    if "is_deleted" in df.columns and "commit_seq" in df.columns:
        aggs += [
            F.sum(
                F.coalesce(F.col("is_deleted"), F.lit(False)).cast("int")
            ).alias("_nt"),
            F.min(F.when(F.col("is_deleted"), F.col("commit_seq"))).alias(
                "_mts"
            ),
        ]
    for f_ in zcols:
        c = (
            F.substring(F.col(f_.name), 1, 65)
            if f_.dataType.typeName() == "string"
            else F.col(f_.name)
        )
        aggs += [
            F.min(c).alias(f"_mn_{f_.name}"),
            F.max(c).alias(f"_mx_{f_.name}"),
        ]
    rows = (
        df.groupBy(F.col("bucket"), F.input_file_name().alias("_f"))
        .agg(*aggs)
        .collect()
    )
    bucket_meta, file_meta = {}, {}
    root_abs = os.path.abspath(table.root)
    for r in rows:
        b = str(r["bucket"])
        if "_nt" in r.asDict():
            bm = bucket_meta.setdefault(
                b, {"n_tombstones": 0, "min_tomb_seq": None}
            )
            bm["n_tombstones"] += int(r["_nt"] or 0)
            if r["_mts"] is not None:
                bm["min_tomb_seq"] = (
                    int(r["_mts"])
                    if bm["min_tomb_seq"] is None
                    else min(bm["min_tomb_seq"], int(r["_mts"]))
                )
        rel = os.path.relpath(re.sub(r"^file:/*", "/", r["_f"]), root_abs)
        cols = {}
        for f_ in zcols:
            mn = table._enc_stat(r[f"_mn_{f_.name}"])
            mx = table._enc_stat(r[f"_mx_{f_.name}"])
            if f_.dataType.typeName() == "string":
                if mn is not None and len(mn) > 64:
                    mn = mn[:64]
                if mx is not None and len(mx) >= 65:
                    mx = None
            cols[f_.name] = [mn, mx]
        file_meta[rel] = {"rows": int(r["_rows"]), "cols": cols}
    return bucket_meta, file_meta


def _record_snapshots(table):
    """Wrap ``table._write_snapshot`` to keep every snapshot it writes."""
    snaps = []
    write = table._write_snapshot

    def spy(*a, **k):
        snaps.append(write(*a, **k))
        return snaps[-1]

    table._write_snapshot = spy
    return snaps


def _reference(table, snap):
    return _scan_stats(
        table, os.path.join(table.root, "data", f"snap-{snap.sid}")
    )


def _long_path(k):
    return f"{'deep/' * 14}{k:04d}.py"  # 78 chars: past the 64-char cap


def test_footer_stats_match_the_spark_scan(spark, tmp_path):
    t = ManifestTable.create(
        spark,
        str(tmp_path / "t"),
        n_buckets=4,
        write_sort=("ts",),
        target_file_rows=9,
    )
    snaps = _record_snapshots(t)
    # a bulk load with no ts at all (all-null ts files), then COW
    # rewrites mixing ts values and nulls
    t.merge(_events(spark, 0, 60, ts=False), "fs", 0)
    t.merge(_events(spark, 60, 160, path=_long_path), "fs", 1)
    # schema evolution: an added long column, plus deletes
    ev = _events(spark, 0, 40, seq_add=500).withColumn(
        "score", F.col("commit_seq") * 2
    )
    t.merge(ev, "fs", 2)
    t.merge(_events(spark, 30, 90, op="delete", seq_add=900), "fs", 3)
    assert len(snaps) == 4
    split = all_null_ts = long_key = tombs = 0
    for snap in snaps:
        ref_bucket_meta, ref_file_meta = _reference(t, snap)
        assert snap.file_meta == ref_file_meta
        assert snap.bucket_meta == ref_bucket_meta
        split += sum(len(ps) > 1 for ps in snap.files.values())
        for meta in snap.file_meta.values():
            all_null_ts += meta["cols"]["ts"] == [None, None]
            long_key += meta["cols"]["path"][1] is None
        tombs += sum(m["n_tombstones"] for m in snap.bucket_meta.values())
    assert split and all_null_ts and long_key and tombs
    assert all("score" in fm["cols"] for fm in snaps[2].file_meta.values())
    # the manifest carries each live file's stats as first recorded
    written = {rel: fm for snap in snaps for rel, fm in snap.file_meta.items()}
    for rel, meta in t.manifest()["file_meta"].items():
        assert meta == written[rel]


def test_footer_stats_fold_row_groups(spark, tmp_path, monkeypatch):
    """Files of several row groups: zones fold over them, and tombstone
    stats read only the row groups whose footer shows a tombstone."""
    import pyarrow.parquet as pq

    read = []
    orig = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **k):
        read.append(list(row_groups))
        return orig(self, row_groups, *a, **k)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    t = ManifestTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, write_sort=("commit_seq",)
    )
    snaps = _record_snapshots(t)
    spark.conf.set("parquet.block.size", "1024")
    try:
        t.merge(_events(spark, 0, 600), "rg", 0)
        # deletes carry the highest seqs: they sort into the last groups
        t.merge(_events(spark, 0, 40, op="delete", seq_add=1000), "rg", 1)
    finally:
        spark.conf.unset("parquet.block.size")
    groups = [
        pq.read_metadata(os.path.join(t.root, rel)).num_row_groups
        for rel in snaps[1].file_meta
    ]
    assert min(groups) > 1, groups
    for snap in snaps:
        ref_bucket_meta, ref_file_meta = _reference(t, snap)
        assert snap.file_meta == ref_file_meta
        assert snap.bucket_meta == ref_bucket_meta
    assert sum(m["n_tombstones"] for m in snaps[1].bucket_meta.values()) == 40
    # the bulk load has no tombstones and read no rows; the delete commit
    # read only the groups holding them
    assert read and sum(map(len, read)) < sum(groups)


def _weights(df):
    """``weight``: distinct finite doubles, NaN where commit_seq % 50 ==
    7; ``all_nan``: NaN everywhere."""
    return df.withColumn(
        "weight",
        F.when(F.col("commit_seq") % 50 == 7, F.lit(float("nan"))).otherwise(
            (F.col("commit_seq") * 37 % 101) / 4.0
        ),
    ).withColumn("all_nan", F.lit(float("nan")))


def test_footer_float_bounds(spark, tmp_path):
    """parquet-java, like Spark, orders NaN above every number: a float
    file holding NaN stores no upper bound (NaN passes any lower bound),
    an all-NaN column is left out (reads keep the file), and a file with
    no NaN keeps the scan's exact bounds, so reads still skip on it."""
    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    snaps = _record_snapshots(t)
    t.merge(_weights(_events(spark, 0, 60)), "ff", 0)
    (snap,) = snaps
    _, ref = _reference(t, snap)
    with_nan = without_nan = 0
    for rel, meta in snap.file_meta.items():
        lo, hi = ref[rel]["cols"]["weight"]
        if math.isnan(hi):
            with_nan += 1
            assert meta["cols"]["weight"] == [lo, None]
        else:
            without_nan += 1
            assert meta["cols"]["weight"] == [lo, hi]
        assert "all_nan" not in meta["cols"]
        assert math.isnan(ref[rel]["cols"]["all_nan"][0])
    assert with_nan and without_nan
    rows = t.read().collect()
    for lo in (20.0, 100.0):
        got = t.read(range_filters={"weight": (lo, None)}).collect()
        want = [r for r in rows if math.isnan(r["weight"]) or r["weight"] >= lo]
        assert sorted(r["commit_seq"] for r in got) == sorted(
            r["commit_seq"] for r in want
        )
    # above every finite value only the NaN files are kept
    rep = t.prune_report({"weight": (100.0, None)})
    assert len(rep["skipped"]) == without_nan


def _ts_of(r):
    k = int(r["path"][len("src/f") : -len(".py")])
    want = dt.datetime(2026, 1, 1) + dt.timedelta(minutes=r["commit_seq"])
    return want if k % 6 else None


def test_int96_session_reads_ts_back(spark, tmp_path, caplog):
    """A session left at INT96 writes no ts footer stats: each write reads
    ts back from its files, so the zone maps equal the scan's, ts range
    reads prune and z-order on ts works; the first such write warns.
    After the session switches to INT64, the INT96 files still read and
    keep their recorded stats."""
    conf = "spark.sql.parquet.outputTimestampType"
    t = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    snaps = _record_snapshots(t)
    spark.conf.set(conf, "INT96")
    try:
        with caplog.at_level("WARNING", logger=mt_logger.name):
            t.merge(_events(spark, 0, 40), "i96", 0)
            t.merge(_events(spark, 40, 80), "i96", 1)
        warned = [r for r in caplog.records if "INT96" in r.getMessage()]
        assert len(warned) == 1
        for snap in snaps:
            ref_bucket_meta, ref_file_meta = _reference(t, snap)
            assert snap.file_meta == ref_file_meta
            assert snap.bucket_meta == ref_bucket_meta
            assert all(fm["cols"]["ts"][0] for fm in snap.file_meta.values())
        before = sorted(map(tuple, t.read().collect()))
        t.cluster(zorder=["ts", "size_bytes"], target_file_rows=5)
        assert sorted(map(tuple, t.read().collect())) == before
    finally:
        spark.conf.set(conf, "TIMESTAMP_MICROS")
    lo = dt.datetime(2026, 1, 1, 1, 0)
    rep = t.prune_report({"ts": (lo, None)})
    assert rep["skipped"] and rep["kept"]
    got = t.read(range_filters={"ts": (lo, None)}).collect()
    assert sorted(r["commit_seq"] for r in got) == sorted(
        r["commit_seq"]
        for r in t.read().collect()
        if r["ts"] is not None and r["ts"] >= lo
    )
    # rewrite two of the four buckets; the others carry their INT96 files
    first = t.manifest()
    t.merge(_events(spark, 0, 40, seq_add=100).filter(t.bucket_expr() < 2),
            "i96", 2)
    ref_bucket_meta, ref_file_meta = _reference(t, snaps[-1])
    assert snaps[-1].file_meta == ref_file_meta
    assert snaps[-1].bucket_meta == ref_bucket_meta
    m = t.manifest()
    int96 = [rel for b in ("2", "3") for rel in m["files"][b]]
    assert int96
    for rel in int96:
        assert m["file_meta"][rel] == first["file_meta"][rel]
    # every row reads back its ts, from INT96 and INT64 files alike
    rows = t.read().collect()
    assert len(rows) == 80
    for r in rows:
        assert r["ts"] == _ts_of(r)
