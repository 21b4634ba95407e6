"""Sparse (partial) CDC updates and the dead-letter queue.

partial_update: null payload columns mean "unchanged" — the matched row
coalesces against its stored values, and the sha256(content) invariant is
recomputed on the MERGED row (reference analog: field-wise coalesce merge,
the reference's internal/merger, implemented by lww_resolve_partial in
operators/lww.py and applied here to the changelog sink).

DLQ: rows normalize_events drops (missing key / bad op / missing seq) are
written per-epoch with a reject_reason; overwrite per epoch dir keeps the
at-least-once replay idempotent.
"""

import glob
import os

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


def _df(spark, rows):
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


def _state(table):
    return {
        (r["repo"], r["path"]): r for r in table.read().collect()
    }


def test_partial_update_coalesces_stored_values(spark, tmp_path):
    import hashlib

    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    full = [
        (1, "insert", "r0", "a.py", "c1", "python", "body-a", None, 10),
        (2, "insert", "r0", "b.py", "c2", "python", "body-b", None, 20),
    ]
    apply_batch(_df(spark, full), table, "pu", 0, partial_update=True)
    # sparse update: only size changes for a.py; content/lang stay null
    sparse = [
        (3, "update", "r0", "a.py", "c3", None, None, None, 99),
    ]
    apply_batch(_df(spark, sparse), table, "pu", 1, partial_update=True)
    st = _state(table)
    a = st[("r0", "a.py")]
    assert a["size_bytes"] == 99  # updated field
    assert a["content"] == "body-a"  # preserved field
    assert a["lang"] == "python"
    assert a["commit_seq"] == 3  # order cols from the winner
    # the per-row invariant holds on the MERGED row
    assert (
        a["content_sha256"]
        == hashlib.sha256(b"body-a").hexdigest()
    )
    # untouched key unchanged
    assert st[("r0", "b.py")]["content"] == "body-b"


def test_partial_update_within_one_batch(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    rows = [
        (1, "insert", "r0", "a.py", "c1", "python", "v1", None, 1),
        (2, "update", "r0", "a.py", "c2", None, "v2", None, None),
        (3, "update", "r0", "a.py", "c3", None, None, None, 33),
    ]
    apply_batch(_df(spark, rows), table, "pu", 0, partial_update=True)
    a = _state(table)[("r0", "a.py")]
    # fields union across the in-batch sparse chain
    assert (a["content"], a["size_bytes"], a["lang"], a["commit_seq"]) == (
        "v2",
        33,
        "python",
        3,
    )


def test_partial_update_delete_does_not_leak(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _df(spark, [(1, "insert", "r0", "a.py", "c1", "py", "secret", None, 5)]),
        table,
        "pu",
        0,
        partial_update=True,
    )
    apply_batch(
        _df(spark, [(2, "delete", "r0", "a.py", "c2", None, None, None, None)]),
        table,
        "pu",
        1,
        partial_update=True,
    )
    assert _state(table) == {}  # tombstoned, no fill-in resurrection
    # revive with a sparse insert: tombstone's payload must NOT leak in
    apply_batch(
        _df(spark, [(3, "insert", "r0", "a.py", "c3", None, None, None, 7)]),
        table,
        "pu",
        2,
        partial_update=True,
    )
    a = _state(table)[("r0", "a.py")]
    assert a["content"] is None  # not "secret"
    assert a["size_bytes"] == 7


def test_dlq_writes_rejects_idempotently(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    dlq = str(tmp_path / "dlq")
    rows = [
        (1, "insert", "r0", "a.py", "c1", "py", "v1", None, 1),
        (2, "insert", None, "b.py", "c2", "py", "v2", None, 1),  # no repo
        (3, "upsert", "r0", "c.py", "c3", "py", "v3", None, 1),  # bad op
        (None, "insert", "r0", "d.py", "c4", "py", "v4", None, 1),  # no seq
        (5, "insert", "r0", "", "c5", "py", "v5", None, 1),  # empty path
    ]
    lin = apply_batch(_df(spark, rows), table, "dl", 0, dlq_dir=dlq)
    assert lin["rows_applied"] == 1
    got = spark.read.parquet(os.path.join(dlq, "dl_0"))
    reasons = {r["reject_reason"] for r in got.collect()}
    assert reasons == {
        "missing_repo",
        "bad_op",
        "missing_commit_seq",
        "missing_path",
    }
    assert got.count() == 4
    # at-least-once replay of the SAME epoch: merge no-ops AND the DLQ
    # dir is overwritten, not appended
    assert apply_batch(_df(spark, rows), table, "dl", 0, dlq_dir=dlq) is None
    assert spark.read.parquet(os.path.join(dlq, "dl_0")).count() == 4
    # per-epoch dirs: a later batch lands next to it
    apply_batch(
        _df(spark, [(9, "noop", "rx", "x.py", "c9", None, None, None, None)]),
        table,
        "dl",
        1,
        dlq_dir=dlq,
    )
    assert len(glob.glob(os.path.join(dlq, "dl_*"))) == 2


def test_full_lww_unchanged_by_default(spark, tmp_path):
    # regression guard: default merge still overwrites whole rows (a null
    # in an update really nulls the column)
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _df(spark, [(1, "insert", "r0", "a.py", "c1", "py", "v1", None, 5)]),
        table,
        "fl",
        0,
    )
    apply_batch(
        _df(spark, [(2, "update", "r0", "a.py", "c2", "py", None, None, None)]),
        table,
        "fl",
        1,
    )
    a = _state(table)[("r0", "a.py")]
    assert a["content"] is None and a["size_bytes"] is None


def test_contract_reject_routes_rows_to_dlq(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    dlq = str(tmp_path / "dlq")
    rules = [
        {"name": "lang_domain", "kind": "in_set", "col": "lang",
         "values": ["python", "go"]},
        {"name": "size_range", "kind": "range", "col": "size_bytes",
         "lo": 0, "hi": 1000},
    ]
    rows = [
        (1, "insert", "r0", "a.py", "c1", "python", "ok", None, 10),
        (2, "insert", "r0", "b.py", "c2", "cobol", "bad-lang", None, 10),
        (3, "insert", "r0", "c.py", "c3", "go", "bad-size", None, 10**6),
    ]
    apply_batch(
        _df(spark, rows), table, "ct", 0, dlq_dir=dlq,
        contract_rules=rules,
    )
    assert set(_state(table)) == {("r0", "a.py")}
    quarantined = spark.read.parquet(os.path.join(dlq, "ct_0_contract"))
    got = {
        r["path"]: r["contract_reason"] for r in quarantined.collect()
    }
    assert got == {"b.py": "lang_domain", "c.py": "size_range"}
    # replay overwrites, not duplicates
    apply_batch(
        _df(spark, rows), table, "ct", 0, dlq_dir=dlq,
        contract_rules=rules,
    )
    assert spark.read.parquet(os.path.join(dlq, "ct_0_contract")).count() == 2

    # reject mode needs a DLQ and row-level kinds
    with pytest.raises(ValueError, match="requires dlq_dir"):
        apply_batch(_df(spark, rows), table, "ct", 1, contract_rules=rules)
    with pytest.raises(ValueError, match="row-level"):
        apply_batch(
            _df(spark, rows), table, "ct", 1, dlq_dir=dlq,
            contract_rules=[{"name": "u", "kind": "unique", "col": "repo"}],
        )


def test_contract_fail_stops_the_line(spark, tmp_path):
    import pytest

    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    good = [(1, "insert", "r0", "a.py", "c1", "python", "x", None, 10)]
    bad = [(2, "insert", "r0", "b.py", "c2", None, "y", None, 10)]
    rules = [{"name": "lang_nn", "kind": "not_null", "col": "lang"}]
    # clean batch passes and lands
    apply_batch(
        _df(spark, good), table, "cf", 0,
        contract_rules=rules, contract_mode="fail",
    )
    assert len(_state(table)) == 1
    # violating batch aborts BEFORE any merge
    with pytest.raises(ValueError, match="lang_nn=1"):
        apply_batch(
            _df(spark, bad), table, "cf", 1,
            contract_rules=rules, contract_mode="fail",
        )
    assert len(_state(table)) == 1
    with pytest.raises(ValueError, match="contract_mode"):
        apply_batch(
            _df(spark, good), table, "cf", 2,
            contract_rules=rules, contract_mode="bogus",
        )
