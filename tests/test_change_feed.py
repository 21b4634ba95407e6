"""ManifestTable.read_changes — row-level change data feed between two
snapshots (Iceberg changelog-scan / Delta CDF analog), incl. bucket
pruning: untouched buckets must not be scanned."""

import json

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


def _batch(spark, table, rows, bid):
    apply_batch(
        spark.createDataFrame(rows, CHANGELOG_SCHEMA), table, "cf", bid
    )


def _feed(table, frm, to=None):
    return {
        (r["repo"], r["path"]): (r["_change_type"], r["content"])
        for r in table.read_changes(frm, to).collect()
    }


def test_change_feed_insert_update_delete(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(
        spark,
        table,
        [
            (1, "insert", "r1", "a.py", "c1", "python", "v1", None, None),
            (2, "insert", "r1", "b.py", "c2", "python", "v2", None, None),
            (3, "insert", "r2", "c.go", "c3", "go", "v3", None, None),
        ],
        0,
    )
    s1 = table.current_snapshot_id()
    _batch(
        spark,
        table,
        [
            (4, "update", "r1", "a.py", "c4", "python", "v4", None, None),
            (5, "delete", "r1", "b.py", "c5", None, None, None, None),
            (6, "insert", "r3", "d.rs", "c6", "rust", "v6", None, None),
        ],
        1,
    )
    s2 = table.current_snapshot_id()

    # from None -> s1: everything is an insert
    assert _feed(table, None, s1) == {
        ("r1", "a.py"): ("insert", "v1"),
        ("r1", "b.py"): ("insert", "v2"),
        ("r2", "c.go"): ("insert", "v3"),
    }
    # s1 -> s2: one update, one delete (old values), one insert;
    # untouched key (r2, c.go) absent
    assert _feed(table, s1, s2) == {
        ("r1", "a.py"): ("update", "v4"),
        ("r1", "b.py"): ("delete", "v2"),
        ("r3", "d.rs"): ("insert", "v6"),
    }
    # identical snapshots: empty feed with the full output schema
    same = table.read_changes(s2, s2)
    assert same.count() == 0
    assert "_change_type" in same.columns and "content" in same.columns


def test_change_feed_prunes_untouched_buckets(spark, tmp_path):
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    rows = [
        (i, "insert", f"r{i}", "f.py", f"c{i}", "python", f"v{i}", None, None)
        for i in range(40)
    ]
    _batch(spark, table, rows, 0)
    s1 = table.current_snapshot_id()
    _batch(
        spark,
        table,
        [(100, "update", "r0", "f.py", "cX", "python", "vX", None, None)],
        1,
    )
    s2 = table.current_snapshot_id()

    feed = table.read_changes(s1, s2)
    assert _feed(table, s1, s2) == {("r0", "f.py"): ("update", "vX")}
    # plan must read only the touched bucket's files, not the table
    ma, mb = table.manifest(s1), table.manifest(s2)
    changed = [
        b for b in set(ma["files"]) | set(mb["files"])
        if sorted(ma["files"].get(b, ())) != sorted(mb["files"].get(b, ()))
    ]
    assert len(changed) == 1
    scan = feed._jdf.queryExecution().optimizedPlan().toString()
    untouched = set(ma["files"]) - set(changed)
    assert untouched and not any(
        f"bucket={b}/" in scan or f"/{p}" in scan
        for b in untouched
        for p in ma["files"][b]
    )


def test_change_feed_schema_evolution_and_errors(spark, tmp_path):
    import pytest

    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(
        spark,
        table,
        [(1, "insert", "r1", "a.py", "c1", "python", "v1", None, None)],
        0,
    )
    s1 = table.current_snapshot_id()
    # column-add between snapshots: merge a frame with an extra column
    extra = spark.createDataFrame(
        [(2, "update", "r1", "a.py", "c2", "python", "v1b", None, None, "x")],
        # fresh StructType: .add would MUTATE the shared module schema
        T.StructType(
            CHANGELOG_SCHEMA.fields + [T.StructField("branch", T.StringType())]
        ),
    )
    apply_batch(extra, table, "cf", 1)
    s2 = table.current_snapshot_id()
    feed = table.read_changes(s1, s2).collect()
    assert [(r["_change_type"], r["branch"]) for r in feed] == [("update", "x")]

    with pytest.raises(ValueError, match="unknown base"):
        table.read_changes("nope", s2)
    # a manifest that logs a column rename or drop (older versions wrote
    # them) is refused instead of read with that column as null
    mp = tmp_path / "t" / "_manifests" / f"{s2}.json"
    m = json.loads(mp.read_text())
    m["schema_log"] = [{"op": "drop", "col": "branch", "at": 0}]
    mp.write_text(json.dumps(m))
    with pytest.raises(ValueError, match="renamed or dropped"):
        table.read()


def test_consume_changes_cursor_and_resume(spark, tmp_path):
    import pytest

    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    seen = []

    def handler(feed, frm, to):
        seen.append(
            (frm, to, sorted((r["repo"], r["_change_type"]) for r in feed.collect()))
        )

    # nothing committed yet -> no-op
    assert table.consume_changes("idx", handler) is None

    _batch(
        spark, table,
        [(1, "insert", "r1", "a.py", "c1", "python", "v1", None, None)], 0,
    )
    rec = table.consume_changes("idx", handler)
    assert rec["from_snapshot_id"] is None
    assert seen[-1][2] == [("r1", "insert")]

    # no new snapshot -> None, handler not called again
    assert table.consume_changes("idx", handler) is None
    assert len(seen) == 1

    # two more batches, consumed in ONE window from the cursor
    _batch(
        spark, table,
        [(2, "update", "r1", "a.py", "c2", "python", "v2", None, None)], 1,
    )
    _batch(
        spark, table,
        [(3, "insert", "r2", "b.py", "c3", "python", "v3", None, None)], 2,
    )
    rec2 = table.consume_changes("idx", handler)
    assert rec2["from_snapshot_id"] == rec["snapshot_id"]
    assert seen[-1][2] == [("r1", "update"), ("r2", "insert")]

    # a second consumer has its own cursor: sees everything from scratch
    table.consume_changes("other", handler)
    assert seen[-1][2] == [("r1", "insert"), ("r2", "insert")]

    # handler crash must NOT advance the cursor (at-least-once)
    _batch(
        spark, table,
        [(4, "delete", "r2", "b.py", "c4", None, None, None, None)], 3,
    )
    with pytest.raises(RuntimeError):
        table.consume_changes("idx", lambda *a: (_ for _ in ()).throw(RuntimeError("boom")))
    assert table.feed_cursor("idx") == rec2["snapshot_id"]
    table.consume_changes("idx", handler)
    assert seen[-1][2] == [("r2", "delete")]

    with pytest.raises(ValueError, match="consumer_id"):
        table.consume_changes("../evil", handler)


def test_consume_changes_expired_base(spark, tmp_path, monkeypatch):
    import os

    import pytest

    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(
        spark, table,
        [(1, "insert", "r1", "a.py", "c1", "python", "v1", None, None)], 0,
    )
    table.consume_changes("idx", lambda *a: None)
    cur = table.feed_cursor("idx")
    _batch(
        spark, table,
        [(2, "insert", "r2", "b.py", "c2", "python", "v2", None, None)], 1,
    )
    # simulate snapshot expiry of the cursor's base manifest
    os.remove(os.path.join(str(tmp_path / "t"), "_manifests", f"{cur}.json"))

    with pytest.raises(ValueError, match="expired"):
        table.consume_changes("idx", lambda *a: None)

    got = []
    table.consume_changes(
        "idx", lambda f, a, b: got.extend(f.collect()),
        reset_on_missing_base=True,
    )
    # re-seeded: full feed, every live row as insert
    assert sorted((r["repo"], r["_change_type"]) for r in got) == [
        ("r1", "insert"), ("r2", "insert"),
    ]


def test_change_feed_matches_state_diff_randomized(spark, tmp_path):
    """Property: for ANY snapshot pair (a, b), read_changes(a, b) must
    equal the key-level diff of the two materialized live states —
    randomized op sequences over a small key space force every
    insert/update/delete/resurrect/no-op interleaving through it."""
    import random

    rng = random.Random(1234)
    keys = [(f"r{i}", f"f{j}.py") for i in range(4) for j in range(3)]
    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)

    seq = 0
    for bid in range(6):
        rows = []
        for repo, path in rng.sample(keys, rng.randint(2, 8)):
            seq += 1
            if rng.random() < 0.3:
                rows.append((seq, "delete", repo, path, f"c{seq}", None, None, None, None))
            else:
                rows.append((seq, "upsert", repo, path, f"c{seq}", "python", f"v{seq}", None, None))
        _batch(spark, table, rows, bid)

    snaps = [None] + [m["snapshot_id"] for m in table.snapshots()]

    def live(sid):
        if sid is None:
            return {}
        return {
            (r["repo"], r["path"]): r["content"]
            for r in table.read(sid).collect()
        }

    pairs = [(snaps[i], snaps[j]) for i in range(len(snaps)) for j in range(1, len(snaps)) if i < j]
    for a, b in rng.sample(pairs, 8):
        la, lb = live(a), live(b)
        want = {}
        for k in lb.keys() - la.keys():
            want[k] = ("insert", lb[k])
        for k in la.keys() - lb.keys():
            want[k] = ("delete", la[k])
        for k in la.keys() & lb.keys():
            if la[k] != lb[k]:
                want[k] = ("update", lb[k])
        got = {
            (r["repo"], r["path"]): (r["_change_type"], r["content"])
            for r in table.read_changes(a, b).collect()
        }
        assert got == want, f"feed mismatch for {a}->{b}"


def test_preimage_feed_maintains_incremental_aggregate(spark, tmp_path):
    """With update pre-images, an additive aggregate is maintainable
    from the feed alone: counts per lang after applying +1/-1 deltas
    must equal a full recompute — including a lang-changing update,
    which the postimage-only feed cannot account for."""
    from collections import Counter

    table = ManifestTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    _batch(
        spark, table,
        [
            (1, "insert", "r1", "a.py", "c1", "python", "v1", None, None),
            (2, "insert", "r1", "b.py", "c2", "python", "v2", None, None),
            (3, "insert", "r2", "c.go", "c3", "go", "v3", None, None),
        ],
        0,
    )
    s1 = table.current_snapshot_id()
    counts = Counter(
        r["lang"] for r in table.read(s1).select("lang").collect()
    )
    _batch(
        spark, table,
        [
            # lang flip python -> rust: needs the preimage to decrement
            (4, "update", "r1", "a.py", "c4", "rust", "v4", None, None),
            (5, "delete", "r1", "b.py", "c5", None, None, None, None),
            (6, "insert", "r3", "d.rs", "c6", "rust", "v6", None, None),
        ],
        1,
    )
    s2 = table.current_snapshot_id()

    feed = table.read_changes(s1, s2, include_preimage=True).collect()
    types = {r["_change_type"] for r in feed}
    assert types == {"insert", "delete", "update_preimage", "update_postimage"}
    for r in feed:
        if r["_change_type"] in ("insert", "update_postimage"):
            counts[r["lang"]] += 1
        else:
            counts[r["lang"]] -= 1

    want = Counter(
        r["lang"] for r in table.read(s2).select("lang").collect()
    )
    assert {k: v for k, v in counts.items() if v} == dict(want)

    # preimage row carries OLD values, postimage NEW, for the same key
    upd = {r["_change_type"]: r for r in feed if r["repo"] == "r1" and r["path"] == "a.py"}
    assert upd["update_preimage"]["lang"] == "python"
    assert upd["update_postimage"]["lang"] == "rust"
