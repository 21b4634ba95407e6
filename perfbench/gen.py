"""Seeded change-event generator for the benchmark, with a per-(workload,
seed) on-disk cache.

The package's own ``datagen.generate_changelog_spark`` is not used: its
``(repo, path)`` strings come only from ``key_idx`` mod 40/200/50/1000/6,
whose least common multiple is 3000, so any log collapses to at most 3000
distinct keys; and its content is a LOREM slice that compresses ~33x
under zstd, far more than source code does.

Here every key index maps to a distinct ``(repo, path)``, keys are drawn
from a bounded Zipf law, and content is a per-event sequence of tokens
drawn from a random identifier vocabulary, so it compresses about as much
as source code (2-4x) and no two contents share long runs.

Generation is pure numpy/pyarrow (no Spark), so the inputs are identical
whatever the program under test does.  Each event also carries, in a
separate ``truth`` file the program never reads, the sha256 of its
content: the oracle checks the table against it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
FILE_MTIME0 = 1_767_225_600
CACHE_KEEP = 6

# extensions the engine maps JVM-side, and ones it does not (those rows
# need the Arrow content sniff when their lang is null)
MAPPED_EXTS = ["py", "go", "js", "ts", "rs", "java", "rb", "c", "md", "yaml"]
EXT_LANG = {
    "py": "python", "go": "go", "js": "javascript", "ts": "typescript",
    "rs": "rust", "java": "java", "rb": "ruby", "c": "c", "md": "markdown",
    "yaml": "yaml",
}
UNMAPPED_EXTS = ["tmpl", "inc", "src", "in"]
UNMAPPED_SHARE = 0.10      # keys whose extension the engine cannot map
EXPLICIT_LANG_SHARE = 0.7  # mapped-extension events that carry lang
DUP_SHARE = 0.03           # exact duplicate events
OOO_SHARE = 0.02           # events displaced later in arrival order
DELETE_SHARE = 0.05

# content openers: the engine's sniff keys on these needles
_OPENERS = ["def main():", "func main() {", "function main() {",
            "fn main() {", "# notes"]
_VOCAB_SIZE = 8192

CHANGELOG_FIELDS = [
    ("commit_seq", pa.int64()), ("op", pa.string()), ("repo", pa.string()),
    ("path", pa.string()), ("commit", pa.string()), ("lang", pa.string()),
    ("content", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
]
SIZE_FIELD = ("size_bytes", pa.int64())


def key_strings(idx: np.ndarray) -> tuple[list[str], list[str]]:
    """Distinct (repo, path) per key index: the index itself is part of
    the path, so no two indices collide."""
    exts = _key_ext(idx)
    repos = [f"org{i % 61}/repo{(i // 61) % 509}" for i in idx.tolist()]
    paths = [f"src/m{(i * 7919) % 997}/f{i}.{e}"
             for i, e in zip(idx.tolist(), exts)]
    return repos, paths


def _key_ext(idx: np.ndarray) -> list[str]:
    # a fixed hash of the index, independent of the seed, so the same key
    # keeps its extension across every file of a run
    h = (idx.astype(np.uint64) * np.uint64(2654435761)) % np.uint64(1000)
    unmapped = h < int(UNMAPPED_SHARE * 1000)
    out = []
    for u, v in zip(unmapped.tolist(), h.tolist()):
        pool = UNMAPPED_EXTS if u else MAPPED_EXTS
        out.append(pool[v % len(pool)])
    return out


def zipf_keys(rng, n: int, n_keys: int, s: float) -> np.ndarray:
    """n draws from a bounded Zipf law over n_keys ranks, the ranks
    scattered over key indices so hot keys spread over buckets."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(n))
    perm = rng.permutation(n_keys)
    return perm[np.minimum(ranks, n_keys - 1)]


class _Content:
    """Per-event code-like text: an opener line the sniff can key on, then
    tokens from a random vocabulary. One joined string per batch, cut at
    token boundaries, so generating ~10^5 contents takes well under a
    second."""

    def __init__(self, rng):
        lens = rng.integers(3, 13, _VOCAB_SIZE)
        letters = rng.integers(97, 123, int(lens.sum()), dtype=np.uint8)
        words = bytes(letters).decode()
        cuts = np.concatenate([[0], np.cumsum(lens)])
        vocab = [words[a:b] for a, b in zip(cuts[:-1], cuts[1:])]
        # punctuation and layout make it look like code
        vocab += ["(", ")", "=", ":", "\n    ", "\n", ",", "return", "if"]
        self.vocab = np.array(vocab, dtype=object)
        self.vlen = np.array([len(v) + 1 for v in vocab])
        self.rng = rng

    def make(self, n: int, flavour: np.ndarray) -> list[str]:
        n_tok = self.rng.integers(20, 90, n)
        idx = self.rng.integers(0, len(self.vocab), int(n_tok.sum()))
        # layout tokens drawn more often than any single identifier
        lay = self.rng.random(len(idx)) < 0.25
        idx[lay] = _VOCAB_SIZE + self.rng.integers(0, 9, int(lay.sum()))
        big = " ".join(self.vocab[idx].tolist())
        ends = np.cumsum(self.vlen[idx])
        stops = ends[np.cumsum(n_tok) - 1]
        starts = np.concatenate([[0], stops[:-1]])
        return [
            f"{_OPENERS[f]}\n{big[a:b - 1]}"
            for f, a, b in zip(flavour.tolist(), starts.tolist(),
                               stops.tolist())
        ]


def make_events(rng, content: _Content, key_idx: np.ndarray,
                seq0: int, ops: np.ndarray) -> dict:
    """Columns for events in seq order: event i has commit_seq seq0 + i."""
    n = len(key_idx)
    repos, paths = key_strings(key_idx)
    exts = _key_ext(key_idx)
    is_del = ops == "delete"
    flavour = (key_idx % len(_OPENERS)).astype(np.int64)
    texts = content.make(n, flavour)
    content_col = [None if d else t for d, t in zip(is_del.tolist(), texts)]
    explicit = rng.random(n) < EXPLICIT_LANG_SHARE
    lang = [
        None if (d or e not in EXT_LANG or not x) else EXT_LANG[e]
        for d, e, x in zip(is_del.tolist(), exts, explicit.tolist())
    ]
    raw = rng.bytes(20 * n)
    commits = [raw[i * 20:(i + 1) * 20].hex() for i in range(n)]
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    return {
        "commit_seq": seq,
        "op": ops.tolist(),
        "repo": repos,
        "path": paths,
        "commit": commits,
        "lang": lang,
        "content": content_col,
        "ts": (BASE_TS_US + seq * 1000).astype("datetime64[us]"),
    }


def choose_ops(rng, key_idx: np.ndarray, seen: set,
               delete_share: float = DELETE_SHARE) -> np.ndarray:
    """insert on a key's first appearance, else update or delete."""
    ops = np.empty(len(key_idx), dtype=object)
    dels = rng.random(len(key_idx)) < delete_share
    for i, (k, d) in enumerate(zip(key_idx.tolist(), dels.tolist())):
        if k not in seen:
            ops[i] = "insert"
            seen.add(k)
        else:
            ops[i] = "delete" if d else "update"
    return ops


def arrival_order(rng, n: int, window: int) -> np.ndarray:
    """Arrival permutation with OOO_SHARE of events displaced up to
    ``window`` positions later, plus DUP_SHARE exact re-deliveries of
    earlier events (indices repeat)."""
    order = np.arange(n)
    late = np.flatnonzero(rng.random(n) < OOO_SHARE)
    for i in late.tolist():
        j = min(n - 1, i + int(rng.integers(1, window + 1)))
        order[i], order[j] = order[j], order[i]
    n_dup = int(n * DUP_SHARE)
    src = rng.integers(0, n, n_dup)
    at = np.minimum(n - 1, src + rng.integers(1, window + 1, n_dup))
    # a duplicate arrives after its original: insert each copy at `at`
    pos = np.concatenate([np.arange(n, dtype=np.float64), at + 0.5])
    return np.concatenate([order, order[src]])[np.argsort(pos,
                                                          kind="stable")]


def _table(cols: dict, rows: np.ndarray, with_size: bool) -> pa.Table:
    arrays, fields = [], []
    for name, typ in CHANGELOG_FIELDS:
        c = cols[name]
        if isinstance(c, np.ndarray):
            a = pa.array(c[rows], type=typ)
        else:
            a = pa.array([c[i] for i in rows.tolist()], type=typ)
        arrays.append(a)
        fields.append(pa.field(name, typ))
    if with_size:
        content = [cols["content"][i] for i in rows.tolist()]
        arrays.append(pa.array(
            [None if c is None else len(c.encode()) for c in content],
            type=pa.int64()))
        fields.append(pa.field(*SIZE_FIELD))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def _truth(cols: dict) -> pa.Table:
    sha = [None if c is None else hashlib.sha256(c.encode()).hexdigest()
           for c in cols["content"]]
    return pa.table({
        "commit_seq": pa.array(cols["commit_seq"]),
        "commit": cols["commit"], "op": cols["op"], "repo": cols["repo"],
        "path": cols["path"], "sha": sha,
    })


def write_log(out_dir: str, cols: dict, order: np.ndarray, n_files: int,
              size_from: int) -> list[str]:
    """Split arrival ``order`` into ``n_files`` parquet files; files with
    index >= ``size_from`` carry the evolved ``size_bytes`` column."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f, rows in enumerate(np.array_split(order, n_files)):
        p = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(_table(cols, rows, f >= size_from), p,
                       compression="zstd")
        # the streaming file source orders files by modification time:
        # distinct mtimes make arrival order the file order
        os.utime(p, (FILE_MTIME0 + f, FILE_MTIME0 + f))
        paths.append(p)
    return paths


def generate(spec: dict, seed: int, out: str) -> None:
    """Write one workload's inputs under ``out``:

    * ``base/``    — the bulk log (arrival order, ``base_files`` files);
    * ``tail/``    — the streamed change files, applied after ``base``;
    * ``truth-base.parquet`` / ``truth-tail.parquet`` — narrow columns +
      expected content sha256, for the oracle only.

    The tail mixes updates to hot stored keys, inserts of new keys,
    deletes, duplicates and late events; file ``tail_files // 2`` onward
    adds ``size_bytes``."""
    rng = np.random.default_rng(seed)
    content = _Content(rng)
    n_keys = spec["key_space"]
    seen: set = set()

    base_keys = zipf_keys(rng, spec["base_events"], n_keys, spec["zipf_s"])
    base = make_events(rng, content, base_keys, 1,
                       choose_ops(rng, base_keys, seen))
    order = arrival_order(rng, len(base_keys), spec["ooo_window"])
    write_log(os.path.join(out, "base"), base, order, spec["base_files"],
              size_from=spec["base_files"] - max(1, spec["base_files"] // 4))
    pq.write_table(_truth(base), os.path.join(out, "truth-base.parquet"))

    n_tail = spec["tail_files"] * spec["tail_events"]
    if n_tail:
        # hot updates/deletes over stored keys; inserts of never-seen keys
        new_key = rng.random(n_tail) < spec["tail_insert_share"]
        hot = zipf_keys(rng, n_tail, n_keys, spec["zipf_s"] + 0.3)
        fresh = n_keys + rng.integers(0, spec["tail_new_keys"], n_tail)
        tail_keys = np.where(new_key, fresh, hot)
        tail_cols = make_events(rng, content, tail_keys, len(base_keys) + 1,
                                choose_ops(rng, tail_keys, seen))
        # late events cross file boundaries: the window is one file
        order = arrival_order(rng, n_tail, spec["tail_events"])
        write_log(os.path.join(out, "tail"), tail_cols, order,
                  spec["tail_files"], size_from=spec["tail_files"] // 2)
        pq.write_table(_truth(tail_cols),
                       os.path.join(out, "truth-tail.parquet"))


WARM_SPEC = dict(base_events=8_000, base_files=2, tail_files=1,
                 tail_events=500)


def generate_all(spec: dict, seed: int, out: str) -> None:
    """The workload's inputs, plus a small set of the same shape under
    ``warm/`` (its own seed) that the untimed warm-up runs on."""
    generate(spec, seed, out)
    generate({**spec, **WARM_SPEC}, seed + 1_000_003,
             os.path.join(out, "warm"))


def cached_inputs(work: str, workload: str, spec: dict, seed: int) -> dict:
    """Inputs for (workload, seed), generated once and reused; at most
    CACHE_KEEP input sets stay cached. Returns the cache dir and the time
    generation took when it ran."""
    key = f"{workload}-s{seed}-v{GEN_VERSION}"
    root = os.path.join(work, "inputs")
    out = os.path.join(root, key)
    meta_p = os.path.join(out, "meta.json")
    if os.path.exists(meta_p):
        with open(meta_p) as f:
            meta = json.load(f)
        if meta.get("spec") == spec:
            return {"dir": out, "generated": False, **meta}
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    generate_all(spec, seed, out)
    meta = {"spec": spec, "gen_s": time.perf_counter() - t0}
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    old = sorted(
        (os.path.getmtime(os.path.join(root, d)), d)
        for d in os.listdir(root) if d != key
    )
    for _, d in old[: max(0, len(old) - CACHE_KEEP + 1)]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return {"dir": out, "generated": True, **meta}
