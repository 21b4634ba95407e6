"""clone_to: deep clone at a snapshot — state equality, independence,
and exactly-once continuity of the source's changelog stream."""

import pytest

from vuln_datasync_spark.sinks.manifest_table import ManifestTable
from vuln_datasync_spark.streaming.pipeline import apply_batch

from .test_change_feed import _batch


def _state(table):
    return {
        (r["repo"], r["path"]): (r["commit"], r["content_sha256"])
        for r in table.read().collect()
    }


def test_clone_equals_source_and_is_independent(spark, tmp_path):
    src = ManifestTable.create(spark, str(tmp_path / "src"), n_buckets=4)
    _batch(
        spark, src,
        [
            (1, "insert", "r1", "a.py", "c1", "python", "v1", None, 10),
            (2, "insert", "r2", "b.go", "c2", "go", "v2", None, 20),
        ],
        0,
    )
    _batch(
        spark, src,
        [(3, "update", "r1", "a.py", "c3", "python", "v3", None, 11)],
        1,
    )
    src.tag("v1")

    clone = src.clone_to(str(tmp_path / "bak"))
    assert _state(clone) == _state(src)
    assert clone.n_buckets == src.n_buckets
    # history is cut: exactly one snapshot, no dangling parent walk
    assert len(clone.snapshots()) == 1
    # lineage carried
    assert clone.read_lineage().count() == src.read_lineage().count()

    # writes to the clone don't touch the source (and vice versa)
    _batch(
        spark, clone,
        [(4, "insert", "r3", "c.rs", "c4", "rust", "v4", None, 5)],
        2,
    )
    assert ("r3", "c.rs") in _state(clone)
    assert ("r3", "c.rs") not in _state(src)

    # destination collision guard
    with pytest.raises(ValueError, match="already a table"):
        src.clone_to(str(tmp_path / "bak"))


def test_clone_resumes_stream_exactly_once(spark, tmp_path):
    """DR promotion: applied_epochs carry, so re-delivery of an epoch
    the SOURCE already applied is a no-op on the clone."""
    src = ManifestTable.create(spark, str(tmp_path / "src"), n_buckets=4)
    rows = [(1, "insert", "r1", "a.py", "c1", "python", "v1", None, 10)]
    _batch(spark, src, rows, 0)

    from .test_change_feed import CHANGELOG_SCHEMA

    clone = src.clone_to(str(tmp_path / "bak"))
    # replay the same (checkpoint, batch) the source already committed
    r = apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), clone, "cf", 0
    )
    assert r is None  # exactly-once: no-op
    # the NEXT epoch applies normally
    r2 = apply_batch(
        spark.createDataFrame(
            [(2, "update", "r1", "a.py", "c2", "python", "v2", None, 12)],
            CHANGELOG_SCHEMA,
        ),
        clone,
        "cf",
        1,
    )
    assert r2 is not None and r2["rows_applied"] == 1
    assert _state(clone)[("r1", "a.py")][0] == "c2"


def test_clone_at_tagged_snapshot(spark, tmp_path):
    src = ManifestTable.create(spark, str(tmp_path / "src"), n_buckets=4)
    _batch(
        spark, src,
        [(1, "insert", "r1", "a.py", "c1", "python", "v1", None, 10)], 0,
    )
    src.tag("epoch0")
    _batch(
        spark, src,
        [(2, "update", "r1", "a.py", "c2", "python", "v2", None, 12)], 1,
    )

    old = src.clone_to(str(tmp_path / "old"), snapshot_id="epoch0")
    assert _state(old)[("r1", "a.py")][0] == "c1"
    assert _state(src)[("r1", "a.py")][0] == "c2"


def test_clone_at_maintenance_snapshot(spark, tmp_path):
    """A maintenance commit stores ``"lineage": null``; cloning at it must
    still build the root lineage and carry the applied epochs."""
    src = ManifestTable.create(spark, str(tmp_path / "src"), n_buckets=4)
    rows = [
        (1, "insert", "r1", "a.py", "c1", "python", "v1", None, 10),
        (2, "insert", "r2", "b.go", "c2", "go", "v2", None, 20),
    ]
    _batch(spark, src, rows, 0)
    sid = src.rebucket(2)
    assert src.manifest(sid)["lineage"] is None

    clone = src.clone_to(str(tmp_path / "bak"))
    assert _state(clone) == _state(src)
    assert clone.n_buckets == 2
    assert clone.manifest()["lineage"]["checkpoint_id"].startswith("clone:")

    from .test_change_feed import CHANGELOG_SCHEMA

    assert apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), clone, "cf", 0
    ) is None
