"""Deterministic synthetic changelog of source-code change events.

Produces the engine's input per FIXTURES.md §2: a binlog/WAL-style stream of
``(commit_seq, op, repo, path, commit, lang, content, ts)`` events keyed by
``(repo, path)`` with

  * Zipf-skewed keys (a few hot repos -> exercises salting),
  * ~3% exact duplicate events (same commit_seq, identical payload) ->
    idempotency / hash-skip (reference analog: data_hash no-op skip,
    /root/reference/internal/merger/merger.go:124-137),
  * ~2% out-of-order arrival (shuffled within a small window) -> resolution
    must order by commit_seq, not arrival,
  * deletes followed by re-inserts of the same key -> tombstone correctness,
  * a schema-evolution tranche: events after 80% of the log carry an extra
    nullable ``size_bytes:long`` column (reference analog: additive migration
    /root/reference/migrations/002_fix_nullable_summary.up.sql:1-6).

Two generators with identical knobs:
  * ``generate_changelog_pandas`` — single-process, authoritative for tests
    (the oracle replays its output);
  * ``generate_changelog_spark`` — distributed, pure column expressions, for
    large benchmark inputs (deterministic but not byte-identical to pandas).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

EXTS = ["py", "go", "js", "rs", "md", "yaml"]
EXT_TO_LANG = {
    "py": "python",
    "go": "go",
    "js": "javascript",
    "rs": "rust",
    "md": "markdown",
    "yaml": "yaml",
}

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "fugiat nulla pariatur excepteur sint occaecat cupidatat non proident "
    "sunt culpa qui officia deserunt mollit anim id est laborum"
)
# long deterministic bank; content is a slice of this
LOREM = (" ".join([_WORDS] * 12) + " ")  # ~4.6k chars
LOREM2 = LOREM + LOREM

MAX_CONTENT = 4000
MIN_CONTENT = 100

CHANGE_EVENT_SCHEMA = (
    "commit_seq long, op string, repo string, path string, commit string, "
    "lang string, content string, ts timestamp"
)
EVOLVED_COLUMN = "size_bytes"  # long, nullable; appears late in the log

BASE_TS = pd.Timestamp("2026-01-01T00:00:00Z")


def _key_tables(n_keys: int, seed: int):
    """Deterministic key universe: repos/paths with Zipf-ish popularity."""
    rng = np.random.default_rng(seed)
    i = np.arange(n_keys)
    repos = np.char.add(
        np.char.add("org", (i % 40).astype(str)),
        np.char.add("/repo", (i % 200).astype(str)),
    )
    dirs = rng.integers(0, 50, n_keys)
    names = rng.integers(0, 1000, n_keys)
    exts = np.array(EXTS)[rng.integers(0, len(EXTS), n_keys)]
    paths = np.array(
        [f"src/d{d}/f{n}.{e}" for d, n, e in zip(dirs, names, exts)], dtype=object
    )
    langs = np.array([EXT_TO_LANG[e] for e in exts], dtype=object)
    return repos, paths, langs


def _content_for(repo: str, path: str, seq: int) -> str:
    h = hashlib.sha256(f"{repo}|{path}|{seq}".encode()).digest()
    off = int.from_bytes(h[4:8], "big") % len(LOREM)
    length = MIN_CONTENT + int.from_bytes(h[8:12], "big") % (MAX_CONTENT - MIN_CONTENT)
    return f"// {repo}/{path} v{seq}\n" + LOREM2[off : off + length]


def _commit_for(repo: str, path: str, seq: int) -> str:
    return hashlib.sha256(f"{repo}|{path}|{seq}".encode()).hexdigest()[:40]


def generate_changelog_pandas(
    n_events: int = 10_000, seed: int = 42, zipf_a: float = 1.3
) -> pd.DataFrame:
    """Authoritative small-scale changelog, returned in ARRIVAL order.

    Columns: commit_seq, op, repo, path, commit, lang, content, ts,
    size_bytes (null before the evolution tranche).
    """
    rng = np.random.default_rng(seed)
    n_keys = max(4, n_events // 4)
    repos, paths, langs = _key_tables(n_keys, seed)

    # Zipf-skewed key choice per event -> hot keys get up to ~50 events
    ranks = rng.zipf(zipf_a, size=n_events * 2)
    ranks = ranks[ranks <= n_keys][:n_events]
    while len(ranks) < n_events:  # top-up (zipf tail rejection)
        extra = rng.zipf(zipf_a, size=n_events)
        extra = extra[extra <= n_keys]
        ranks = np.concatenate([ranks, extra])[:n_events]
    key_idx = ranks - 1

    commit_seq = np.arange(1, n_events + 1, dtype=np.int64)

    # op per event: first touch of a key = insert; after a delete = insert;
    # otherwise update/delete ~ 82/18 (yields roughly 70/25/5 overall)
    op_draw = rng.random(n_events)
    ops = np.empty(n_events, dtype=object)
    last_op: dict[int, str] = {}
    for i in range(n_events):
        k = key_idx[i]
        prev = last_op.get(k)
        if prev is None or prev == "delete":
            o = "insert"
        elif op_draw[i] < 0.18:
            o = "delete"
        else:
            o = "update"
        ops[i] = o
        last_op[k] = o

    ev = pd.DataFrame(
        {
            "commit_seq": commit_seq,
            "op": ops,
            "repo": repos[key_idx],
            "path": paths[key_idx],
        }
    )
    ev["commit"] = [
        _commit_for(r, p, s) for r, p, s in zip(ev.repo, ev.path, ev.commit_seq)
    ]
    is_del = ev.op.to_numpy() == "delete"
    ev["lang"] = np.where(is_del, None, langs[key_idx])
    contents = np.array(
        [
            None if d else _content_for(r, p, s)
            for d, r, p, s in zip(is_del, ev.repo, ev.path, ev.commit_seq)
        ],
        dtype=object,
    )
    ev["content"] = contents
    ev["ts"] = BASE_TS + pd.to_timedelta(ev.commit_seq, unit="s")

    # schema-evolution tranche: size_bytes appears after 80% of the log
    evolve_at = int(n_events * 0.8)
    sb = np.array([None if c is None else len(c) for c in contents], dtype=object)
    sb[commit_seq <= evolve_at] = None
    ev[EVOLVED_COLUMN] = sb
    ev[EVOLVED_COLUMN] = ev[EVOLVED_COLUMN].astype("Int64")

    # ~3% exact duplicates (idempotency), appended then shuffled locally
    n_dup = int(n_events * 0.03)
    if n_dup:
        dup_pos = rng.integers(0, n_events, n_dup)
        ev = pd.concat([ev, ev.iloc[dup_pos]], ignore_index=True)

    # arrival order: by commit_seq, then ~2% swapped within a window of 10
    ev = ev.sort_values("commit_seq", kind="stable").reset_index(drop=True)
    arrival = np.arange(len(ev), dtype=np.float64)
    n_swap = int(len(ev) * 0.02)
    if n_swap:
        at = rng.integers(0, len(ev), n_swap)
        arrival[at] += rng.integers(1, 10, n_swap)  # drift later
    ev = ev.iloc[np.argsort(arrival, kind="stable")].reset_index(drop=True)
    return ev


def write_changelog(ev: pd.DataFrame, out_dir: str, n_files: int = 8) -> list[str]:
    """Write the changelog as N parquet files in arrival order.

    Files whose events all precede the evolution tranche are written WITHOUT
    the ``size_bytes`` column, so readers must reconcile schemas
    (column-add). Returns the file paths in arrival order.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    chunks = np.array_split(np.arange(len(ev)), n_files)
    for i, idx in enumerate(chunks):
        if len(idx) == 0:
            continue
        chunk = ev.iloc[idx]
        if chunk[EVOLVED_COLUMN].isna().all():
            chunk = chunk.drop(columns=[EVOLVED_COLUMN])
        p = os.path.join(out_dir, f"events-{i:05d}.parquet")
        # microsecond timestamps (Spark's parquet reader rejects nanos)
        chunk.to_parquet(
            p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        paths.append(p)
    return paths


def generate_changelog_spark(
    spark,
    n_events: int,
    seed: int = 42,
    n_keys: int | None = None,
    shuffle_partitions: int | None = None,
):
    """Distributed changelog generator — pure column expressions, no Python
    row loop.  Used for large bench inputs; deterministic given (n_events,
    seed) but not byte-identical to the pandas generator.

    Skew: key index is drawn from a power-law-ish transform of a hash so a
    handful of keys receive a large share of events.
    """
    from pyspark.sql import functions as F

    if n_keys is None:
        n_keys = max(4, n_events // 4)
    df = spark.range(1, n_events + 1).withColumnRenamed("id", "commit_seq")
    h = F.abs(F.xxhash64(F.col("commit_seq"), F.lit(seed)))
    # power-law key index: u^3 concentrates mass near 0 -> hot keys
    u = (h % 1_000_000) / 1_000_000.0
    key_idx = F.floor(F.pow(u, F.lit(3.0)) * n_keys).cast("long")
    df = df.withColumn("key_idx", key_idx)
    df = df.withColumn(
        "repo",
        F.concat(
            F.lit("org"), (F.col("key_idx") % 40).cast("string"),
            F.lit("/repo"), (F.col("key_idx") % 200).cast("string"),
        ),
    )
    ext = F.element_at(
        F.array(*[F.lit(e) for e in EXTS]), (F.col("key_idx") % 6 + 1).cast("int")
    )
    # key_idx itself is in the path, so distinct indices are distinct
    # (repo, path) keys; the modular parts only spread keys over dirs
    df = df.withColumn(
        "path",
        F.concat(
            F.lit("src/d"), (F.col("key_idx") % 50).cast("string"),
            F.lit("/f"), F.col("key_idx").cast("string"),
            F.lit("."), ext,
        ),
    )
    lang_map = F.create_map(
        *[F.lit(x) for kv in EXT_TO_LANG.items() for x in kv]
    )
    opsel = F.abs(F.xxhash64(F.col("commit_seq"), F.lit(seed + 1))) % 100
    # stateless op mix ~70/25/5 (no per-key history at scale; deletes of
    # never-inserted keys are valid no-op events for the engine)
    df = df.withColumn(
        "op",
        F.when(opsel < 70, "insert").when(opsel < 95, "update").otherwise("delete"),
    )
    key_str = F.concat_ws("|", "repo", "path", F.col("commit_seq").cast("string"))
    df = df.withColumn("commit", F.substring(F.sha2(key_str, 256), 1, 40))
    off = (F.abs(F.xxhash64(key_str)) % len(LOREM)).cast("int")
    length = (
        F.lit(MIN_CONTENT)
        + (F.abs(F.xxhash64(key_str, F.lit(7))) % (MAX_CONTENT - MIN_CONTENT))
    ).cast("int")
    body = F.expr(
        f"substring('{LOREM2}', cast(abs(xxhash64(concat_ws('|', repo, path, "
        f"cast(commit_seq as string)))) % {len(LOREM)} as int) + 1, "
        f"cast({MIN_CONTENT} + abs(xxhash64(concat_ws('|', repo, path, "
        f"cast(commit_seq as string)), 7)) % {MAX_CONTENT - MIN_CONTENT} as int))"
    )
    del off, length  # folded into `body`
    content = F.concat(
        F.lit("// "), F.col("repo"), F.lit("/"), F.col("path"),
        F.lit(" v"), F.col("commit_seq").cast("string"), F.lit("\n"), body,
    )
    df = df.withColumn(
        "lang", F.when(F.col("op") == "delete", F.lit(None)).otherwise(lang_map[ext])
    )
    df = df.withColumn(
        "content", F.when(F.col("op") == "delete", F.lit(None)).otherwise(content)
    )
    df = df.withColumn(
        "ts",
        (F.lit(int(BASE_TS.timestamp())) + F.col("commit_seq")).cast("timestamp"),
    )
    evolve_at = int(n_events * 0.8)
    df = df.withColumn(
        EVOLVED_COLUMN,
        F.when(
            (F.col("commit_seq") > evolve_at) & (F.col("op") != "delete"),
            F.length("content").cast("long"),
        ),
    )
    return df.drop("key_idx")
