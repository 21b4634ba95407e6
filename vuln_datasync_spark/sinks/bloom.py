"""Per-file Bloom-filter sidecar: equality-predicate file skipping for
high-cardinality columns where zone maps can't help.

Zone maps (min/max) prune range predicates, but an equality probe on a
column whose values are uniformly distributed per file (content hashes,
commit ids, alias strings) overlaps every file's [min, max]. A Bloom
filter per (file, column) answers "definitely absent" and lets
``ManifestTable.read(eq_filters=...)`` skip the file entirely — the
Iceberg puffin-blob / Parquet bloom analog, but engine-controlled so it
also guards the multi-file read paths. Reference analog:
the unique index probed by GetVulnerabilityByAlias
(/root/reference/migrations/001_initial_schema.up.sql:52,
/root/reference/sql/vulnerabilities.sql:16-21).

Design (the 100 TB shape):
  * Data files are IMMUTABLE under COW, so a file's Bloom bits are
    valid forever — the sidecar is cumulative, keyed by relative path,
    snapshot-independent; each ``build_bloom`` writes only the delta
    for not-yet-covered files (cost ∝ new data, never the table).
  * Filters are stored SPARSE as (rel, col, word_idx, word) rows in
    parquet under ``_blooms/`` — built entirely executor-side with an
    explode + ``bit_or`` aggregate; the driver never materializes a
    bitset.
  * Hashing is the engine's portable md5→UBIGINT idiom (k derived
    positions per value), reproducible from plain ``hashlib`` so a
    probe computes its positions driver-side with NO Spark job, then
    reads back ≤ k·n_files sidecar rows via a pushed-down
    ``word_idx IN (...)`` filter.
  * False positives only ever KEEP a file (fpp ≈ 0.8% at the default
    10 bits/key, k=5); files not yet covered are conservatively kept.

Intended for string / integer columns (values are canonicalized via
CAST AS STRING on the build side and ``str(value)`` on the probe side —
floats would be format-sensitive and are rejected).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import time
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_BITS_PER_KEY = 10
DEFAULT_K = 5

_SIDECAR_SCHEMA = T.StructType(
    [
        T.StructField("rel", T.StringType(), False),
        T.StructField("col", T.StringType(), False),
        T.StructField("m", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("word_idx", T.IntegerType(), False),
        T.StructField("word", T.LongType(), False),
    ]
)


def _blooms_dir(table) -> str:
    return os.path.join(table.root, "_blooms")


def _m_for(rows: int, bits_per_key: int) -> int:
    return max(64, ((max(rows, 1) * bits_per_key + 63) // 64) * 64)


def _positions_py(value, k: int, m: int) -> list[int]:
    """Probe-side positions — MUST mirror the Spark expression in
    :func:`build_bloom` bit for bit: position i is the first 15 hex
    digits (60 bits) of md5(str(value) + '|' + i), mod m."""
    return [
        int(
            hashlib.md5(f"{value}|{i}".encode("utf-8")).hexdigest()[:15], 16
        )
        % m
        for i in range(k)
    ]


def _read_sidecar(table):
    parts = sorted(glob.glob(os.path.join(_blooms_dir(table), "b-*")))
    if not parts:
        return None
    return table.spark.read.schema(_SIDECAR_SCHEMA).parquet(*parts)


def build_bloom(
    table,
    cols: list[str],
    bits_per_key: int = DEFAULT_BITS_PER_KEY,
    k: int = DEFAULT_K,
    snapshot_id: str | None = None,
) -> dict:
    """Build Bloom sidecar entries for every (file, col) of the given
    snapshot (default current) not already covered. Returns
    ``{"files_built": n, "cells": rows_written}``."""
    m_manifest = table.manifest(snapshot_id)
    if m_manifest is None:
        return {"files_built": 0, "cells": 0}
    schema = T.StructType.fromJson(m_manifest["schema"])
    by_name = {f.name: f for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"build_bloom: unknown column {c!r}")
        t = by_name[c].dataType.typeName()
        if t not in ("string", "byte", "short", "integer", "long"):
            raise ValueError(
                f"build_bloom: column {c!r} has type {t}; only string / "
                "integer columns canonicalize portably"
            )

    all_rels = sorted(
        p
        for paths in list(m_manifest["files"].values())
        + list((m_manifest.get("logs") or {}).values())
        for p in paths
    )
    side = _read_sidecar(table)
    covered: set[tuple[str, str]] = set()
    if side is not None:
        covered = {
            (r["rel"], r["col"])
            for r in side.filter(F.col("col").isin(list(cols)))
            .select("rel", "col")
            .distinct()
            .collect()
        }
    todo_rels = sorted(
        {
            rel
            for rel in all_rels
            if any((rel, c) not in covered for c in cols)
        }
    )
    if not todo_rels:
        return {"files_built": 0, "cells": 0}

    fm = m_manifest.get("file_meta", {})
    m_by_rel = {
        rel: _m_for(int(fm.get(rel, {}).get("rows", 0)), bits_per_key)
        for rel in todo_rels
    }
    spark = table.spark
    files = [os.path.join(table.root, rel) for rel in todo_rels]
    df = table._scan(m_manifest, files)

    root_abs = os.path.abspath(table.root)
    rel_expr = F.regexp_replace(
        F.regexp_replace(F.input_file_name(), "^file:/*", "/"),
        "^" + re.escape(root_abs + os.sep),
        "",
    )
    m_df = F.broadcast(
        spark.createDataFrame(
            [(rel, m) for rel, m in m_by_rel.items()], "rel string, m long"
        )
    )
    df = df.select(rel_expr.alias("rel"), *[F.col(c) for c in cols]).join(
        m_df, on="rel"
    )

    def positions(c: str) -> F.Column:
        s = F.col(c).cast("string")
        return F.array(
            *[
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(s, F.lit(f"|{i}"))), 1, 15
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.col("m"),
                )
                for i in range(k)
            ]
        )

    per_col = []
    for c in cols:
        missing = [rel for rel in todo_rels if (rel, c) not in covered]
        if not missing:
            continue
        cc = (
            df.filter(F.col("rel").isin(missing))
            .filter(F.col(c).isNotNull())
            .select(
                "rel",
                "m",
                F.explode(positions(c)).alias("pos"),
            )
            .select(
                "rel",
                F.lit(c).alias("col"),
                "m",
                F.lit(k).alias("k"),
                (F.col("pos") / 64).cast("int").alias("word_idx"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    "CAST(pmod(pos, 64) AS INT))"
                ).alias("_mask"),
            )
        )
        per_col.append(cc)
    if not per_col:
        return {"files_built": 0, "cells": 0}
    u = per_col[0]
    for x in per_col[1:]:
        u = u.unionByName(x)
    agg = u.groupBy("rel", "col", "m", "k", "word_idx").agg(
        F.bit_or("_mask").alias("word")
    )
    out_dir = os.path.join(
        _blooms_dir(table),
        f"b-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}",
    )
    agg.select(
        "rel", "col", "m", "k", "word_idx", "word"
    ).write.mode("overwrite").parquet(out_dir)
    cells = spark.read.parquet(out_dir).count()
    return {"files_built": len(todo_rels), "cells": int(cells)}


def bloom_excluded_rels(table, col: str, value) -> set[str]:
    """Relative paths of files the Bloom sidecar PROVES cannot contain
    ``col == value``. Files without a sidecar entry are never returned
    (conservative keep). Probe cost: ≤ k sidecar reads per covered
    file, driver-side hashing only — no scan of table data."""
    if value is None:
        return set()
    side = _read_sidecar(table)
    if side is None:
        return set()
    meta = (
        side.filter(F.col("col") == col)
        .select("rel", "m", "k")
        .distinct()
        .collect()
    )
    if not meta:
        return set()
    needed: dict[str, set[tuple[int, int]]] = {}
    word_idxs: set[int] = set()
    for r in meta:
        cells = set()
        for pos in _positions_py(value, int(r["k"]), int(r["m"])):
            wi, bit = pos // 64, pos % 64
            cells.add((wi, bit))
            word_idxs.add(wi)
        needed[r["rel"]] = cells
    probe = side.filter(F.col("col") == col)
    # pushed-down IN keeps the read ∝ k·n_files; with a degenerate
    # spread of word indexes (many distinct per-file m values) fall
    # back to scanning the (still tiny) per-col sidecar slice
    if len(word_idxs) <= 10_000:
        probe = probe.filter(
            F.col("word_idx").isin([int(w) for w in word_idxs])
        )
    have = probe.select("rel", "word_idx", "word").collect()
    words = {
        (r["rel"], int(r["word_idx"])): int(r["word"]) & 0xFFFFFFFFFFFFFFFF
        for r in have
    }
    excluded = set()
    for rel, cells in needed.items():
        hit = all(
            (words.get((rel, wi), 0) >> bit) & 1 for wi, bit in cells
        )
        if not hit:
            excluded.add(rel)
    return excluded


def compact_bloom(table, max_files: int = 16) -> dict:
    """Fold the accumulated build deltas into one sidecar dir when they
    exceed ``max_files`` parts; drops entries for files no longer
    referenced by the CURRENT manifest (expired snapshots' data)."""
    parts = sorted(glob.glob(os.path.join(_blooms_dir(table), "b-*")))
    if len(parts) <= max_files:
        return {"compacted": False, "parts": len(parts)}
    m = table.manifest()
    live = (
        {
            p
            for paths in list(m["files"].values())
            + list((m.get("logs") or {}).values())
            for p in paths
        }
        if m
        else set()
    )
    side = _read_sidecar(table)
    kept = side.filter(F.col("rel").isin(list(live))) if live else None
    out_dir = os.path.join(
        _blooms_dir(table),
        f"b-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}",
    )
    if kept is not None:
        kept.write.mode("overwrite").parquet(out_dir)
    import shutil

    for p in parts:
        shutil.rmtree(p, ignore_errors=True)
    return {"compacted": True, "parts": 1 if kept is not None else 0}
