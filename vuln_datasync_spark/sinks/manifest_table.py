"""ManifestTable — a snapshot-isolated keyed MERGE sink on plain parquet.

The sandbox image ships no Iceberg runtime jar, so this implements the same
commit semantics the engine would get from ``MERGE INTO`` on Iceberg
(SURVEY.md §7.1 Phase 2 fallback), with the same at-scale properties:

* **Copy-on-write at bucket granularity** — the key space is hash-bucketed
  (``pmod(xxhash64(repo, path), n_buckets)``); a merge rewrites ONLY the
  buckets touched by the batch and carries the other buckets' files forward
  by reference in the new manifest.  At 100 TB with enough buckets this is
  the Iceberg COW file-rewrite pattern: work ∝ touched data, not table size.
* **Atomic snapshot commits** — each commit writes data files + an immutable
  manifest JSON, then atomically swaps a ``_current`` pointer
  (``os.replace``) after verifying the parent snapshot (optimistic
  single-writer check).  Readers always see a complete snapshot.
* **Exactly-once via epoch tagging** — every commit records its
  ``(checkpoint_id, batch_id)`` epoch; a replayed micro-batch (foreachBatch
  is at-least-once) is detected and skipped (north-rule requirement;
  reference analog: unique-job dedup, /root/reference/internal/jobs/
  server.go:760-832).
* **Monotone merge condition** — a row only advances when the incoming
  event's total order ``(commit_seq, commit, op)`` exceeds the stored one
  (an exact tie keeps the stored copy; operators/lww.py ``lww_order``),
  so replays and late/out-of-order events are no-ops (MERGE ... WHEN MATCHED
  AND b.seq > t.seq analog; reference: ON CONFLICT DO UPDATE,
  /root/reference/sql/vulnerabilities.sql:66-90).
* **Deletes are tombstones** — a delete keeps ``(key, ord, is_deleted)`` so
  an earlier-sequenced update arriving later cannot resurrect the row
  (SURVEY.md §7.3 #5); ``expire_tombstones`` compacts them once safe.
* **Schema evolution** — column-add and int->long / float->double widening
  reconciled against the stored schema before each merge (reference analog:
  additive migration /root/reference/migrations/002_fix_nullable_summary
  .up.sql:1-6).

One commit protocol serves every writer (merge, no-op epochs, ALTER,
rollback and the maintenance rewrites). ``_write_snapshot`` writes the
rewritten buckets under ``data/snap-<sid>/bucket=<b>/`` in one exchange:
rows are routed to write tasks by bucket, and a copy-on-write rewrite
resolves LWW in the stage after that exchange, so target ∪ batch is
shuffled once. The new files' stats come from their parquet footers on
the driver, with no Spark job. ``_commit_snapshot`` builds the next
manifest from a base (the parent; the target for ``rollback``): the
caller names the keys it changes, and every other key — files, MOR logs,
stats, schema, schema log, applied epochs, bucket count — carries forward
unchanged, so each manifest is complete as written. It then swaps the
pointer against the expected parent. A commit that loses the race removes
its own ``data/snap-<sid>/`` before re-raising ``CommitConflict``, so a
failed attempt leaves no orphan files; only ``merge`` retries, the other
writers surface the conflict.

On a real cluster the file listing/IO below would go through the Hadoop
FileSystem API; local-mode uses the posix filesystem directly.
"""

from __future__ import annotations

import datetime
import glob
import json
import logging
import math
import os
import re
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.normalize import LWW_ORDER_COLS
from ..operators.lww import (
    ARRIVAL,
    lww_order,
    lww_resolve,
    lww_resolve_partial,
    rank_arrivals,
)

logger = logging.getLogger("vuln_datasync_spark.manifest_table")

# tables whose INT96-timestamp writes have been warned about (once each)
_INT96_WARNED: set[str] = set()


class CommitConflict(RuntimeError):
    """Optimistic commit refused: the table's current snapshot moved
    between plan and pointer swap (another writer committed first)."""


class _Snapshot(NamedTuple):
    """What one ``_write_snapshot`` produced: the snapshot id, the new
    files per bucket (manifest-relative, sorted) and their stats."""

    sid: str
    files: dict
    bucket_meta: dict
    file_meta: dict


KEY_COLS = ("repo", "path")
LINEAGE_DDL = (
    "snapshot_id string, checkpoint_id string, batch_id long, bucket long, "
    "seq_start long, seq_end long, rows_applied long, committed_at string"
)
EXPORT_DDL = (
    "export_id string, format string, compression boolean, rows long, "
    "file_bytes long, snapshot_id string, path string, status string, "
    "exported_at string, mode string, base_snapshot_id string"
)
META_COLS = ("is_deleted",)

# type-widening lattice (Iceberg-compatible promotions)
_WIDEN = {
    ("integer", "long"): "long",
    ("long", "integer"): "long",
    ("float", "double"): "double",
    ("double", "float"): "double",
    ("integer", "double"): "double",
    ("double", "integer"): "double",
    ("long", "double"): "double",
    ("double", "long"): "double",
}


def _same_type(a: T.DataType, b: T.DataType) -> bool:
    """Type equality modulo nullability (containsNull/valueContainsNull/
    field nullable): parquet does not enforce these, and frames built from
    collect_set/array() legitimately disagree with read schemas on them —
    simpleString() renders the shape without nullability flags."""
    return a.simpleString() == b.simpleString()


def _merge_schemas(a: T.StructType, b: T.StructType) -> T.StructType:
    """Union of columns with type widening; order = a's columns then new."""
    fields: dict[str, T.StructField] = {f.name: f for f in a.fields}
    for f in b.fields:
        if f.name not in fields:
            fields[f.name] = T.StructField(f.name, f.dataType, True)
        else:
            cur = fields[f.name]
            if not _same_type(cur.dataType, f.dataType):
                w = _WIDEN.get((cur.dataType.typeName(), f.dataType.typeName()))
                if w is None:
                    raise ValueError(
                        f"incompatible schema change for {f.name}: "
                        f"{cur.dataType} vs {f.dataType}"
                    )
                fields[f.name] = T.StructField(
                    f.name, T.LongType() if w == "long" else T.DoubleType(), True
                )
    return T.StructType(list(fields.values()))


def _conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto schema: add missing columns as null, cast widened."""
    cols = []
    have = {f.name: f for f in df.schema.fields}
    for f in schema.fields:
        if f.name in have:
            c = F.col(f.name)
            if not _same_type(have[f.name].dataType, f.dataType):
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


class ManifestTable:
    """A keyed, versioned table at ``root`` with atomic manifest commits.

    Zone maps come from the new files' parquet footers. A session that
    writes timestamps as INT96 (Spark's default; ``get_spark`` sets
    ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``) leaves
    them out of the footers, so each write reads its timestamp columns
    back on the driver instead, and the first such write per table logs
    a warning."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # None = commits move the main ``_current`` pointer; a branch name
        # (set via for_branch) = commits move that branch ref instead
        self.branch: str | None = None
        meta = self._read_json(os.path.join(root, "_table.json"))
        if meta is None:
            raise FileNotFoundError(f"no ManifestTable at {root} (use .create)")
        self.n_buckets = meta["n_buckets"]
        self.key_cols = tuple(meta["key_cols"])
        self.write_sort = tuple(meta.get("write_sort") or ())
        self.target_file_rows = meta.get("target_file_rows")
        self.merge_mode = meta.get("merge_mode", "cow")
        # the CURRENT manifest is authoritative for the bucket layout:
        # rebucket commits the new layout atomically with its files, while
        # _table.json is only a bootstrap (swapped after commit) — a crash
        # between the two must not leave readers on the old modulus
        m = self.manifest()
        if m and m.get("n_buckets"):
            self.n_buckets = m["n_buckets"]

    # ---------- creation / metadata ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        n_buckets: int = 32,
        key_cols: tuple[str, ...] = KEY_COLS,
        write_sort: tuple[str, ...] | None = None,
        target_file_rows: int | None = None,
        merge_mode: str = "cow",
    ) -> "ManifestTable":
        """``write_sort`` + ``target_file_rows``: the always-clustered
        layout. Every bucket rewrite (merge, expiry, rebucket) sorts the
        bucket by these columns and splits it into ~target-row files, so
        the per-file zone maps prune range reads WITHOUT a separate
        ``cluster()`` maintenance pass. Costs one in-partition sort per
        rewritten bucket at write time — the right trade for
        read-mostly / time-scanned tables; leave unset for
        write-heavy tables and run ``cluster()`` in maintenance windows
        instead.

        ``merge_mode``: ``"cow"`` (default) rewrites touched buckets on
        every merge — read-optimal, write amplification ∝ bucket size.
        ``"mor"`` (merge-on-read, Hudi MOR / Iceberg merge-on-read
        analog) appends each batch as per-bucket LOG files and resolves
        base ∪ logs per key at read time with the same LWW order — write
        cost ∝ batch size, the right trade for high-frequency small CDC
        batches; ``compact_logs()`` / ``maintain()`` fold logs back into
        the base."""
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be cow|mor, got {merge_mode!r}")
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        with open(os.path.join(root, "_table.json"), "w") as f:
            json.dump(
                {
                    "n_buckets": n_buckets,
                    "key_cols": list(key_cols),
                    "write_sort": list(write_sort or ()),
                    "target_file_rows": target_file_rows,
                    "merge_mode": merge_mode,
                },
                f,
            )
        return cls(spark, root)

    def _write_layout(self, root: str, n_buckets: int) -> None:
        """(Re)write the ``_table.json`` bootstrap at ``root``."""
        layout = {
            "n_buckets": n_buckets,
            "key_cols": list(self.key_cols),
            "write_sort": list(self.write_sort),
            "target_file_rows": self.target_file_rows,
            "merge_mode": self.merge_mode,
        }
        self._atomic_write(os.path.join(root, "_table.json"), json.dumps(layout))

    def _sync_layout(self, m: dict | None) -> None:
        """Adopt the bucket layout of a freshly read manifest. A rebucket
        committed by ANOTHER handle (maintenance between stream batches, a
        second process) changes the modulus; computing bucket_expr or the
        affected-bucket list with a stale ``self.n_buckets`` would route
        rows to wrong buckets and pop wrong file keys — silently, because
        the expected-parent commit check passes (the rebucket committed
        BEFORE this operation started)."""
        if m and m.get("n_buckets") and m["n_buckets"] != self.n_buckets:
            logger.warning(
                "bucket layout changed under this handle: %d -> %d "
                "(adopting the committed manifest's layout)",
                self.n_buckets,
                m["n_buckets"],
            )
            self.n_buckets = m["n_buckets"]

    @staticmethod
    def _read_json(path: str):
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    @staticmethod
    def _atomic_write(path: str, text: str) -> None:
        """tmp + ``os.replace``: readers see the old or the new content,
        never a partial write."""
        with open(path + ".tmp", "w") as f:
            f.write(text)
        os.replace(path + ".tmp", path)

    def _manifest_path(self, sid: str) -> str:
        return os.path.join(self.root, "_manifests", f"{sid}.json")

    @staticmethod
    def _referenced(m: dict) -> list[str]:
        """Every data file a manifest references: base files + MOR logs."""
        return [
            p
            for paths in list(m.get("files", {}).values())
            + list((m.get("logs") or {}).values())
            for p in paths
        ]

    def current_snapshot_id(self) -> str | None:
        if self.branch is not None:
            return self.refs()["branches"].get(self.branch)
        return self._main_head()

    def _main_head(self) -> str | None:
        """The main ``_current`` pointer, whatever branch this handle is on."""
        try:
            with open(os.path.join(self.root, "_current")) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def manifest(self, snapshot_id: str | None = None) -> dict | None:
        sid = snapshot_id or self.current_snapshot_id()
        if sid is None:
            return None
        refs = self.refs()
        # tag / branch names resolve anywhere a sid goes (tags win on a
        # name collision — they are immutable, so the resolution is stable)
        sid = refs["tags"].get(sid) or refs["branches"].get(sid) or sid
        return self._read_json(self._manifest_path(sid))

    @staticmethod
    def _to_millis(ts) -> int:
        """datetime (naive = UTC) / ISO string / epoch-millis -> millis."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            return int(ts.timestamp() * 1000)
        return int(ts)

    def snapshot_as_of(self, ts) -> str | None:
        """Latest snapshot committed at or before ``ts`` (time travel by
        timestamp, Iceberg ``FOR SYSTEM_TIME AS OF`` analog). Snapshot
        ids embed their commit epoch-millis, so this is a metadata walk —
        no I/O beyond the manifest chain. ``ts``: datetime (naive = UTC),
        ISO string, or epoch millis. Returns None if the table has no
        snapshot that old."""
        millis = self._to_millis(ts)
        best = None
        for m in self.snapshots():  # oldest -> newest
            if int(m["snapshot_id"].split("-", 1)[0]) <= millis:
                best = m["snapshot_id"]
        return best

    # ---------- refs (named snapshots) ----------

    def refs(self) -> dict:
        r = self._read_json(os.path.join(self.root, "_refs.json"))
        r = r if r else {"tags": {}}
        r.setdefault("tags", {})
        r.setdefault("branches", {})
        return r

    def _write_refs(self, refs: dict) -> None:
        self._atomic_write(os.path.join(self.root, "_refs.json"), json.dumps(refs))

    def tag(self, name: str, snapshot_id: str | None = None) -> str:
        """Pin a named, immutable ref to a snapshot (Iceberg tag analog).
        Dataset versioning for training runs: ``tag("corpus-v3")`` freezes
        the exact file set a run trained on; ``read("corpus-v3")``,
        ``read_changes("corpus-v2", "corpus-v3")`` and
        ``rollback("corpus-v3")`` all resolve the name, and
        ``expire_snapshots`` never drops a tagged snapshot's manifest or
        data files. Pure metadata — no data movement at any scale."""
        sid = snapshot_id or self.current_snapshot_id()
        if sid is None:
            raise ValueError("no snapshot to tag")
        refs = self.refs()
        sid = refs["tags"].get(sid, sid)
        if self._read_json(self._manifest_path(sid)) is None:
            raise ValueError(f"unknown snapshot {sid!r}")
        refs["tags"][name] = sid
        self._write_refs(refs)
        return sid

    def drop_tag(self, name: str) -> None:
        refs = self.refs()
        if name in refs["tags"]:
            del refs["tags"][name]
            self._write_refs(refs)

    # ---------- branches (movable refs / write-audit-publish) ----------

    def create_branch(self, name: str, snapshot_id: str | None = None) -> str | None:
        """Create a movable ref (Iceberg branch analog) rooted at
        ``snapshot_id`` (default: main's current snapshot; may be None on
        an empty table — the branch then starts from scratch). Commits via
        ``for_branch(name)`` advance the branch head; main's ``_current``
        never moves until ``publish``. This is the WAP (write-audit-
        publish) pattern: stage a risky ingest on a branch, audit it with
        ordinary reads (``read(name)``), then fast-forward main — pure
        metadata, no data movement at any scale."""
        refs = self.refs()
        if name in refs["branches"]:
            raise ValueError(f"branch {name!r} already exists")
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is not None:
            sid = refs["tags"].get(sid, sid)
            if self._read_json(self._manifest_path(sid)) is None:
                raise ValueError(f"unknown snapshot {sid!r}")
        refs["branches"][name] = sid
        self._write_refs(refs)
        return sid

    def drop_branch(self, name: str) -> None:
        refs = self.refs()
        if name in refs["branches"]:
            del refs["branches"][name]
            self._write_refs(refs)

    def for_branch(self, name: str) -> "ManifestTable":
        """A handle whose reads and commits target branch ``name`` (its
        head must exist in ``refs()``). The returned handle shares the
        session; only the commit pointer differs — merge/apply_batch/
        delete_where/maintain all work unchanged on it."""
        import copy

        if name not in self.refs()["branches"]:
            raise ValueError(f"unknown branch {name!r} (create_branch first)")
        h = copy.copy(self)
        h.branch = name
        h._sync_layout(h.manifest())
        return h

    def publish(self, name: str) -> str:
        """Fast-forward main to branch ``name``'s head (Iceberg
        ``fast_forward`` / WAP publish). Requires main's current snapshot
        to be an ancestor of (or equal to) the branch head — i.e. nothing
        was committed to main since the branch forked; otherwise raises
        CommitConflict (rebase by re-branching from the new main and
        replaying, exactly-once keys make the replay safe). Atomic pointer
        swap; the branch ref survives (drop it separately)."""
        head = self.refs()["branches"].get(name)
        if head is None:
            raise ValueError(f"branch {name!r} missing or empty")
        cur = self._main_head()
        if cur is not None:
            # ancestor walk over the branch head's parent chain
            m = self._read_json(self._manifest_path(head))
            chain = set()
            while m is not None:
                chain.add(m["snapshot_id"])
                p = m.get("parent")
                m = self._read_json(self._manifest_path(p)) if p else None
            if cur not in chain:
                raise CommitConflict(
                    f"main advanced past branch {name!r}'s fork point "
                    f"(current {cur} not an ancestor of head {head})"
                )
        self._atomic_write(os.path.join(self.root, "_current"), head)
        return head

    def snapshots(self) -> list[dict]:
        out = []
        m = self.manifest()
        while m is not None:
            out.append(m)
            m = self.manifest(m["parent"]) if m["parent"] else None
        return list(reversed(out))

    def schema(self) -> T.StructType | None:
        m = self.manifest()
        return T.StructType.fromJson(m["schema"]) if m else None

    # ---------- schema evolution beyond add/widen: rename & drop ----------
    #
    # Iceberg handles rename/drop with field IDs; plain parquet has only
    # names, so the manifest records a `schema_log` of (at_millis, op)
    # entries and `read()` resolves each file's PHYSICAL column names from
    # its write era (the snap-dir's embedded millis). Metadata-only: no
    # data file is rewritten; old files stay readable through the mapping
    # forever, and a column re-added after a drop never resurrects ghost
    # values from pre-drop files. At 100 TB an ALTER is one JSON commit.

    def _protected_cols(self):
        return set(self.key_cols) | set(LWW_ORDER_COLS) | {
            "is_deleted",
            "content",
            "content_sha256",
        }

    @staticmethod
    def _file_era(rel_path: str) -> int:
        m = re.search(r"snap-(\d{13})-", rel_path)
        return int(m.group(1)) if m else 0

    def _alter_commit(self, new_schema_json, log_entry, file_meta):
        parent = self.current_snapshot_id()
        parent_m = self.manifest(parent)
        sid = self._new_snapshot_id()
        self._commit_snapshot(
            parent_m, parent, sid, f"alter:{sid}",
            lineage=self._lineage(sid, f"alter:{log_entry['op']}"),
            schema=new_schema_json,
            file_meta=file_meta,
            schema_log=list(parent_m.get("schema_log", []))
            + [{**log_entry, "at": int(sid.split("-", 1)[0])}],
        )
        return sid

    def rename_column(self, old: str, new: str) -> str:
        """ALTER TABLE RENAME COLUMN as a metadata-only commit. Existing
        data files keep the old physical name; reads map them through the
        schema log. Key / order / invariant columns are immutable."""
        if old in self._protected_cols() or new in self._protected_cols():
            raise ValueError(f"column {old!r} -> {new!r} is protected")
        m = self.manifest()
        if m is None:
            raise ValueError("empty table")
        schema = T.StructType.fromJson(m["schema"])
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        # zone-map keys follow the rename (values are unchanged by it),
        # so range_filters on the NEW name keep pruning old files
        fm = {
            rel: {
                **meta,
                "cols": {
                    (new if c == old else c): v
                    for c, v in meta.get("cols", {}).items()
                },
            }
            for rel, meta in m.get("file_meta", {}).items()
        }
        return self._alter_commit(
            new_schema.jsonValue(),
            {"op": "rename", "from": old, "to": new},
            fm,
        )

    def drop_column(self, name: str) -> str:
        """ALTER TABLE DROP COLUMN, metadata-only. A later column-add with
        the same name starts from null everywhere — pre-drop files never
        leak their old values back (the Iceberg field-id guarantee,
        enforced here via the schema log's era check)."""
        if name in self._protected_cols():
            raise ValueError(f"column {name!r} is protected")
        m = self.manifest()
        if m is None:
            raise ValueError("empty table")
        schema = T.StructType.fromJson(m["schema"])
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no column {name!r}")
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != name]
        )
        fm = {
            rel: {
                **meta,
                "cols": {
                    c: v
                    for c, v in meta.get("cols", {}).items()
                    if c != name
                },
            }
            for rel, meta in m.get("file_meta", {}).items()
        }
        return self._alter_commit(
            new_schema.jsonValue(), {"op": "drop", "col": name}, fm
        )

    def _read_with_schema_log(
        self, files: list[str], schema: T.StructType, slog: list[dict]
    ) -> DataFrame:
        """Read files whose physical column names may predate renames/
        drops: group by write era, derive each group's physical schema by
        walking the log backwards, read, and align to the target schema.
        Group count <= len(schema_log)+1 — each group is still a plain
        pushdown-friendly parquet scan."""
        from collections import defaultdict

        root_abs = os.path.abspath(self.root)
        groups: dict[tuple, list] = defaultdict(list)
        for f_ in files:
            era = self._file_era(os.path.relpath(f_, root_abs))
            key = tuple(
                i for i, e in enumerate(slog) if e["at"] > era
            )
            groups[key].append(f_)
        parts = []
        for key, fs in groups.items():
            # target name -> ("phys", physical_name) | ("null",)
            mapping = {f.name: ("phys", f.name) for f in schema.fields}
            for i in sorted(key, reverse=True):  # newest alter first
                e = slog[i]
                if e["op"] == "rename":
                    for t, v in mapping.items():
                        if v[0] == "phys" and v[1] == e["to"]:
                            mapping[t] = ("phys", e["from"])
                else:  # drop: pre-drop physical values are ghosts
                    for t, v in mapping.items():
                        if v[0] == "phys" and v[1] == e["col"]:
                            mapping[t] = ("null",)
            phys = T.StructType(
                [
                    T.StructField(mapping[f.name][1], f.dataType, True)
                    for f in schema.fields
                    if mapping[f.name][0] == "phys"
                ]
            )
            pdf = self.spark.read.schema(phys).parquet(*fs)
            sel = [
                F.col(mapping[f.name][1]).alias(f.name)
                if mapping[f.name][0] == "phys"
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
            parts.append(pdf.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _scan(self, m: dict, files: list[str]) -> DataFrame:
        """Plain scan of ``files`` under manifest ``m``'s schema, renames
        and drops applied through its schema log; no LWW resolution."""
        schema = T.StructType.fromJson(m["schema"])
        slog = m.get("schema_log") or []
        if slog:
            return self._read_with_schema_log(files, schema, slog)
        return self.spark.read.schema(schema).parquet(*files)

    def _arrival_scans(
        self,
        m: dict,
        buckets: list[int] | None,
        via: dict | None = None,
        prune=None,
    ) -> list[DataFrame]:
        """Scans of ``buckets`` (all when None) under manifest ``m``, one
        per arrival rank, earliest first: the base files, then each
        bucket's MOR logs by their position in the manifest's per-bucket
        list, which is commit order. ``rank_arrivals`` of them is what
        every base ∪ logs resolve reads, so the earliest copy of a tie
        wins. Files are read under ``via``'s schema and schema log
        (default ``m``); ``prune`` (files -> files) filters each rank."""
        groups = [self._files_for(m, buckets)]
        for b, ps in (m.get("logs") or {}).items():
            if buckets is None or int(b) in buckets:
                for i, p in enumerate(ps, 1):
                    if i == len(groups):
                        groups.append([])
                    groups[i].append(os.path.join(self.root, p))
        if prune is not None:
            groups = [prune(fs) for fs in groups]
        return [self._scan(via or m, fs) for fs in groups if fs]

    # ---------- expressions ----------

    def bucket_expr(self) -> F.Column:
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(self.n_buckets)
        ).cast("int")

    # ---------- read ----------

    def _files_for(
        self,
        manifest: dict,
        buckets: list[int] | None = None,
        exclude: set[int] | None = None,
    ):
        files = []
        for b, paths in manifest["files"].items():
            if exclude and int(b) in exclude:
                continue
            if buckets is None or int(b) in buckets:
                files += [os.path.join(self.root, p) for p in paths]
        return files

    def _logged_buckets(
        self, manifest: dict, buckets: list[int] | None = None
    ) -> list[int]:
        """Buckets with outstanding MOR log files (scoped to ``buckets``)."""
        out = {
            int(b)
            for b, ps in (manifest.get("logs") or {}).items()
            if ps
        }
        if buckets is not None:
            out &= set(buckets)
        return sorted(out)

    @classmethod
    def _file_overlaps(cls, meta: dict | None, enc_filters: dict) -> bool:
        """True when a file may contain rows matching every range filter.
        No stats for the file, or no stats for a filtered column =>
        conservative keep. Stats present with all-null min/max => the
        column has no non-null value in the file, and a range predicate
        never matches null => safe skip."""
        if meta is None:
            return True
        cols = meta.get("cols", {})
        for c, (lo, hi) in enc_filters.items():
            if c not in cols:
                continue
            mn, mx = cols[c]
            if mn is None and mx is None:
                return False
            if hi is not None and mn is not None and mn > hi:
                return False
            if lo is not None and mx is not None and mx < lo:
                return False
        return True

    def _enc_filters(self, range_filters: dict) -> dict:
        return {
            c: (self._enc_stat(lo), self._enc_stat(hi))
            for c, (lo, hi) in range_filters.items()
        }

    def prune_report(
        self, range_filters: dict, snapshot_id: str | None = None
    ) -> dict:
        """Which files a ``read(range_filters=...)`` would open: returns
        ``{"kept": [...], "skipped": [...]}`` (manifest-relative paths).
        Pure manifest-JSON work — no file I/O, no Spark job."""
        m = self.manifest(snapshot_id)
        if m is None:
            return {"kept": [], "skipped": []}
        enc = self._enc_filters(range_filters)
        # logged (merge-on-read) buckets prune on key columns only —
        # mirrors read(); see its docstring for why
        enc_key = {c: v for c, v in enc.items() if c in self.key_cols}
        logged = set(self._logged_buckets(m))
        fm = m.get("file_meta", {})
        kept, skipped = [], []
        for b, paths in m["files"].items():
            e = enc_key if int(b) in logged else enc
            for p in paths:
                (kept if self._file_overlaps(fm.get(p), e) else skipped).append(p)
        for paths in (m.get("logs") or {}).values():
            for p in paths:
                (
                    kept if self._file_overlaps(fm.get(p), enc_key) else skipped
                ).append(p)
        return {"kept": sorted(kept), "skipped": sorted(skipped)}

    def read(
        self,
        snapshot_id: str | None = None,
        include_tombstones: bool = False,
        buckets: list[int] | None = None,
        range_filters: dict | None = None,
        eq_filters: dict | None = None,
    ) -> DataFrame:
        """Snapshot read. Missing columns in old files come back as null
        (explicit manifest schema -> parquet clipping = free column-add).

        ``range_filters={col: (lo, hi)}`` (either bound may be None)
        applies ``lo <= col <= hi`` AND skips — via the manifest's
        per-file zone maps, before Spark ever lists or opens them — every
        file whose [min, max] cannot intersect the requested range (the
        Iceberg manifest-stats / Delta data-skipping pattern; reference
        analog: modified-since incremental sync riding a B-tree index,
        /root/reference/sql/vulnerabilities.sql:128-132). Bounds:
        numbers for numeric columns, datetime/date objects for
        timestamp/date columns, strings for key columns. At 100 TB a
        time-scoped read (e.g. "commits since seq N") opens only the
        files whose zone overlaps — I/O ∝ matching data, not table size;
        parquet row-group pruning then resumes inside each kept file.

        ``eq_filters={col: value}`` adds equality predicates that prune
        through BOTH stats layers: the zone maps (as a degenerate
        [v, v] range) and, when :func:`sinks.bloom.build_bloom` has
        covered the files, the per-file Bloom sidecar — the path that
        skips files for high-cardinality probes (content hashes, alias
        strings) whose per-file min/max spans everything. Files without
        Bloom coverage are conservatively kept.

        Merge-on-read tables: buckets with outstanding log files are
        resolved per key (base ∪ logs, same LWW total order the COW merge
        uses) before any tombstone filtering. File-level pruning inside a
        logged bucket uses KEY-column predicates only — a non-key zone /
        Bloom skip could drop the file holding a key's winner while
        keeping a stale in-range version, silently resurrecting it; key
        predicates are safe because every version of a key shares its key
        values. Non-key predicates still apply row-level after
        resolution, and log-free buckets keep full pruning."""
        m = self.manifest(snapshot_id)
        schema = T.StructType.fromJson(m["schema"]) if m else None
        if eq_filters:
            range_filters = dict(range_filters or {})
            for c, v in eq_filters.items():
                # zone-map pruning as a point range (unless the caller
                # already ranges this column)
                if v is not None and c not in range_filters:
                    range_filters[c] = (v, v)
        logged = self._logged_buckets(m, buckets) if m else []

        def _prune(files, rf, eq_cols):
            """Zone-map + Bloom file skipping, restricted to ``rf`` /
            ``eq_cols`` (the caller scopes these to key columns for
            logged buckets)."""
            if rf and files:
                enc = self._enc_filters(rf)
                fm = m.get("file_meta", {})
                root_abs = os.path.abspath(self.root)
                files = [
                    f_
                    for f_ in files
                    if self._file_overlaps(
                        fm.get(os.path.relpath(f_, root_abs)), enc
                    )
                ]
            if eq_filters and files:
                from .bloom import bloom_excluded_rels

                root_abs = os.path.abspath(self.root)
                for c, v in eq_filters.items():
                    if c not in eq_cols:
                        continue
                    excl = bloom_excluded_rels(self, c, v)
                    if excl:
                        files = [
                            f_
                            for f_ in files
                            if os.path.relpath(f_, root_abs) not in excl
                        ]
                    if not files:
                        break
            return files

        all_cols = set((range_filters or {})) | set((eq_filters or {}))
        base_files = (
            self._files_for(m, buckets, exclude=set(logged)) if m else []
        )
        base_files = _prune(base_files, range_filters or {}, all_cols)
        log_side: list[DataFrame] = []
        if logged:
            key_set = set(self.key_cols)
            rf_key = {
                c: v
                for c, v in (range_filters or {}).items()
                if c in key_set
            }
            log_side = self._arrival_scans(
                m, logged, prune=lambda fs: _prune(fs, rf_key, key_set)
            )

        parts = []
        if base_files:
            parts.append(self._scan(m, base_files))
        if log_side:
            # <= 1 base row + a few log rows per key: the per-key window
            # sort is constant-size, shuffle ∝ rows in logged buckets
            parts.append(
                lww_resolve(rank_arrivals(log_side), key_cols=self.key_cols)
            )
        if not parts:
            empty_schema = schema or T.StructType(
                [T.StructField(c, T.StringType()) for c in self.key_cols]
            )
            df = self.spark.createDataFrame([], empty_schema)
        elif len(parts) == 1:
            df = parts[0]
        else:
            df = parts[0].unionByName(parts[1])
        if not include_tombstones and "is_deleted" in df.columns:
            # coalesce: a null is_deleted (row merged in bypassing
            # normalize, e.g. direct merge() with a null op) must stay
            # visible, not vanish from every read
            df = df.filter(~F.coalesce(F.col("is_deleted"), F.lit(False))).drop(
                "is_deleted"
            )
        if range_filters:
            # residual row-level predicate: zone maps are file-granular,
            # kept files still contain non-matching rows
            for c, (lo, hi) in range_filters.items():
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(hi))
        if eq_filters:
            for c, v in eq_filters.items():
                df = df.filter(
                    F.col(c).isNull() if v is None else F.col(c) == F.lit(v)
                )
        return df

    def lookup(self, key_values, snapshot_id: str | None = None) -> DataFrame:
        """Point lookup by primary key: read ONLY the hash buckets the
        given keys can live in (reference analog: GetVulnerabilityByID,
        /root/reference/sql/vulnerabilities.sql:1-6 — a B-tree probe there,
        a partition-pruned scan here).

        ``key_values``: scalars (single-column key) or tuples in
        ``key_cols`` order. The candidate buckets come from applying the
        table's own ``bucket_expr`` to a literal frame of the keys — the
        hash is computed by the same engine expression that routed the
        writes, so driver/JVM hash parity is true by construction, and it
        stays correct across ``rebucket`` (the expression reads the
        CURRENT modulus). The pruned read is then semi-joined to the
        broadcast key set.

        At 100 TB: I/O is ∝ ``len(keys)/n_buckets`` of the table — k
        point lookups read at most k buckets' files, never the table.
        The bucket computation is one driver-local job over len(keys)
        literal rows (no scan)."""
        m = self.manifest(snapshot_id)
        if m is None or not key_values:
            return self.read(snapshot_id).limit(0)
        rows = [
            tuple(v) if isinstance(v, (tuple, list)) else (v,)
            for v in key_values
        ]
        if any(len(r) != len(self.key_cols) for r in rows):
            raise ValueError(
                f"each key must have {len(self.key_cols)} values "
                f"({', '.join(self.key_cols)})"
            )
        schema = T.StructType.fromJson(m["schema"])
        by_name = {f.name: f for f in schema.fields}
        keys_df = self.spark.createDataFrame(
            rows,
            T.StructType([by_name[c] for c in self.key_cols]),
        )
        # current-layout modulus (matches how the files were routed)
        n = m.get("n_buckets", self.n_buckets)
        bexpr = F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(n)
        ).cast("int")
        buckets = sorted(
            r["b"]
            for r in keys_df.select(bexpr.alias("b")).distinct().collect()
        )
        # zone-map file pruning WITHIN the kept buckets: the key columns
        # carry per-file min/max stats, so a point lookup also skips every
        # file of a bucket whose key range can't contain the probed keys
        # (clustered layouts split buckets into many files — the probe
        # then opens ~1 file per key, not the whole bucket)
        rf = {}
        for i, c in enumerate(self.key_cols):
            vals = [r[i] for r in rows]
            if all(v is not None for v in vals):
                rf[c] = (min(vals), max(vals))
        return self.read(
            snapshot_id, buckets=buckets, range_filters=rf or None
        ).join(F.broadcast(keys_df), on=list(self.key_cols), how="leftsemi")

    def rollback(self, snapshot_id: str) -> str:
        """Restore the table to a prior snapshot by committing a NEW
        snapshot that references the old snapshot's file set — pure
        metadata, no data movement (Iceberg ``rollback_to_snapshot``
        analog; reference analog: full re-sync recovery,
        /root/reference/internal/jobs/server.go sync-from-scratch path —
        here O(1) instead of a re-ingest).

        ``applied_epochs`` reverts to the target's set, so changelog
        batches committed after the rollback point replay cleanly
        (exactly-once keys re-open); history is preserved — the bad
        snapshots stay readable for audit until ``expire_snapshots``.
        The bucket layout (modulus) also reverts if a ``rebucket``
        happened in between; the next merge's ``_sync_layout`` picks it
        up. Returns the new snapshot id."""
        target = self.manifest(snapshot_id)  # resolves tag / branch names
        if target is None:
            raise ValueError(f"unknown snapshot {snapshot_id!r}")
        snapshot_id = target["snapshot_id"]
        parent = self.current_snapshot_id()
        if parent == snapshot_id:
            return parent
        sid = self._new_snapshot_id()
        # the TARGET is the base: its file set, logs, stats, schema log and
        # applied epochs all come back; only the parent link is current
        manifest = self._commit_snapshot(
            target, parent, sid, f"rollback:{snapshot_id}:{sid}",
            lineage=self._lineage(sid, f"rollback:{snapshot_id}"),
        )
        self.n_buckets = manifest["n_buckets"]
        return sid

    def clone_to(
        self,
        dest_root: str,
        snapshot_id: str | None = None,
        include_lineage: bool = True,
    ) -> "ManifestTable":
        """Deep clone at a snapshot (tag/branch names resolve): backup,
        dataset shipping, or DR promotion.

        Copies the snapshot's data files (relative paths preserved — the
        snap-dir millis embedded in them keep schema-era resolution and
        zone maps valid) plus a single root manifest whose ``parent`` is
        cut (the clone's history starts here) but whose
        ``applied_epochs`` carry over — so a promoted clone resumes the
        SOURCE's changelog stream exactly-once: re-delivery of an
        already-applied epoch is a no-op on the clone too (tested).
        Source tags/branches/feed-cursors/sidecars are NOT copied (a
        Bloom sidecar is rebuilt by ``maintain()``; absent sidecars read
        conservatively). Copy cost ∝ LIVE snapshot size, never history:
        expired/overwritten files are unreachable from the manifest. The
        per-file copy loop is driver-side here; on object storage it
        would be issued as parallel server-side copies — the file LIST
        is already exactly right (manifest-driven, no directory walk).
        """
        m = self.manifest(snapshot_id)
        if m is None:
            raise ValueError(f"no snapshot to clone at {snapshot_id!r}")
        if os.path.exists(os.path.join(dest_root, "_table.json")):
            raise ValueError(f"destination already a table: {dest_root}")
        os.makedirs(os.path.join(dest_root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(dest_root, "data"), exist_ok=True)
        self._write_layout(dest_root, m.get("n_buckets", self.n_buckets))
        rels = self._referenced(m)
        for rel in rels:
            dst = os.path.join(dest_root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(os.path.join(self.root, rel), dst)
        root_m = dict(m)
        root_m["parent"] = None
        root_m["lineage"] = {
            **(m.get("lineage") or {}),
            "checkpoint_id": f"clone:{self.root}:{m['snapshot_id']}",
        }
        self._atomic_write(
            os.path.join(dest_root, "_manifests", f"{m['snapshot_id']}.json"),
            json.dumps(root_m),
        )
        self._atomic_write(os.path.join(dest_root, "_current"), m["snapshot_id"])
        if include_lineage and os.path.isdir(
            os.path.join(self.root, "_lineage")
        ):
            shutil.copytree(
                os.path.join(self.root, "_lineage"),
                os.path.join(dest_root, "_lineage"),
            )
        logger.info(
            "cloned %s@%s -> %s (%d files)",
            self.root,
            m["snapshot_id"],
            dest_root,
            len(rels),
        )
        return ManifestTable(self.spark, dest_root)

    def read_changes(
        self,
        from_snapshot_id: str | None = None,
        to_snapshot_id: str | None = None,
        include_preimage: bool = False,
    ) -> DataFrame:
        """Change data feed between two snapshots (the Iceberg
        changelog-scan / Delta CDF analog; reference's incremental
        consumers read `updated_at >` watermarks —
        sql/vulnerabilities.sql:128-132 — this is the exact row-level
        version): one row per key whose LIVE state differs between
        ``from_snapshot_id`` (exclusive base; None = empty table) and
        ``to_snapshot_id`` (default: current), with ``_change_type`` in
        {insert, update, delete}. Insert/update rows carry the NEW
        values, delete rows the last-seen old values.

        ``include_preimage=True`` switches updates to the Delta-CDF
        two-row form — ``update_preimage`` (old values) +
        ``update_postimage`` (new values) — which is what makes ANY
        downstream aggregate incrementally maintainable: the delta of
        an additive agg is +f(row) for insert/update_postimage and
        -f(row) for delete/update_preimage, so a consumer never needs
        to re-read the base table (see the incremental-count test).

        Scale: buckets whose manifest file lists are identical in both
        snapshots are skipped before any I/O, so scan bytes and the
        diff join's shuffle are ∝ rows in TOUCHED buckets (∝ the delta
        for incremental workloads), never table size. Falls back to a
        full diff only when a rebucket changed the layout between the
        two snapshots. Old rows are conformed to the target schema
        (column-add/widen safe); a value change is detected via
        null-safe struct equality on the target schema's value columns.
        """
        m_to = self.manifest(to_snapshot_id)
        if m_to is None:
            raise ValueError("read_changes: target snapshot does not exist")
        m_from = (
            self.manifest(from_snapshot_id) if from_snapshot_id else None
        )
        if from_snapshot_id and m_from is None:
            raise ValueError(
                f"read_changes: unknown base snapshot {from_snapshot_id}"
            )
        schema = T.StructType.fromJson(m_to["schema"])
        keys = list(self.key_cols)
        val_cols = [
            f.name
            for f in schema.fields
            if f.name not in keys and f.name != "is_deleted"
        ]

        buckets: list[int] | None = None
        if m_from is not None:
            nb_from = m_from.get("n_buckets") or self.n_buckets
            nb_to = m_to.get("n_buckets") or self.n_buckets
            if nb_from == nb_to:
                fa, fb = m_from["files"], m_to["files"]
                la = m_from.get("logs") or {}
                lb = m_to.get("logs") or {}
                # a merge-on-read commit touches only the log lists — a
                # bucket counts as changed when EITHER layer differs
                buckets = sorted(
                    int(b)
                    for b in set(fa) | set(fb) | set(la) | set(lb)
                    if sorted(fa.get(b, ())) != sorted(fb.get(b, ()))
                    or sorted(la.get(b, ())) != sorted(lb.get(b, ()))
                )

        out_fields = [f for f in schema.fields if f.name != "is_deleted"] + [
            T.StructField("_change_type", T.StringType(), False)
        ]
        if buckets == []:
            return self.spark.createDataFrame([], T.StructType(out_fields))

        def _sides(m):
            # read BOTH sides through the TARGET's schema and schema log
            # so a rename between the snapshots is not reported as every
            # row changing: the base side's files resolve their physical
            # names by era, then align to the target schema
            parts = self._arrival_scans(m, buckets, via=m_to) if m else []
            if not parts:
                df = self.spark.createDataFrame([], schema)
            elif self._logged_buckets(m, buckets):
                # merge-on-read side: collapse base ∪ logs to the per-key
                # winner before diffing, by the same arrival ranks as
                # read(), so a tie resolves alike on both sides
                df = lww_resolve(rank_arrivals(parts), key_cols=tuple(keys))
            else:
                df = rank_arrivals(parts)
            live = (
                ~F.coalesce(F.col("is_deleted"), F.lit(False))
                if "is_deleted" in df.columns
                else F.lit(True)
            )
            vs = (
                F.struct(*[F.col(c) for c in val_cols])
                if val_cols
                else F.lit(0)
            )
            return df.select(*keys, vs.alias("_v"), live.alias("_l"))

        o = _sides(m_from)
        n = _sides(m_to)
        j = n.select(
            *keys, F.col("_v").alias("_nv"), F.col("_l").alias("_nl")
        ).join(
            o.select(
                *keys, F.col("_v").alias("_ov"), F.col("_l").alias("_ol")
            ),
            on=keys,
            how="full",
        )
        nl = F.coalesce(F.col("_nl"), F.lit(False))
        ol = F.coalesce(F.col("_ol"), F.lit(False))
        ct = (
            F.when(nl & ~ol, F.lit("insert"))
            .when(~nl & ol, F.lit("delete"))
            .when(
                nl & ol & ~F.col("_nv").eqNullSafe(F.col("_ov")),
                F.lit("update"),
            )
        )
        j = j.withColumn("_change_type", ct).filter(
            F.col("_change_type").isNotNull()
        )
        if not include_preimage:
            picked = F.when(
                F.col("_change_type") == "delete", F.col("_ov")
            ).otherwise(F.col("_nv"))
            return j.select(
                *keys,
                *[picked.getField(c).alias(c) for c in val_cols],
                "_change_type",
            )
        # Delta-CDF form: updates fan out to (preimage, postimage)
        one = lambda t, v: F.array(  # noqa: E731
            F.struct(F.lit(t).alias("t"), v.alias("v"))
        )
        fan = (
            F.when(F.col("_change_type") == "insert", one("insert", F.col("_nv")))
            .when(F.col("_change_type") == "delete", one("delete", F.col("_ov")))
            .otherwise(
                F.concat(
                    one("update_preimage", F.col("_ov")),
                    one("update_postimage", F.col("_nv")),
                )
            )
        )
        e = j.select(*keys, F.explode(fan).alias("_p"))
        return e.select(
            *keys,
            *[F.col("_p.v").getField(c).alias(c) for c in val_cols],
            F.col("_p.t").alias("_change_type"),
        )

    # ---------- merge ----------

    def merge(
        self,
        winners: DataFrame,
        checkpoint_id: str = "adhoc",
        batch_id: int = 0,
        seq_range=None,
        max_commit_retries: int = 3,
        partial_update: bool = False,
        mor: bool | None = None,
    ) -> dict | None:
        """MERGE one-winner-per-key batch into the table.

        ``winners`` must have key_cols + LWW_ORDER_COLS (+ payload). Returns
        the lineage record, or None if this (checkpoint_id, batch_id) epoch
        was already committed (exactly-once replay skip).

        ``seq_range`` may be a (start, end) tuple or a zero-arg callable
        resolved after the first batch action (lets the caller capture the
        source offset range via DataFrame.observe with no extra scan).

        ``max_commit_retries``: on an optimistic-commit conflict (another
        writer's pointer swap won the race — e.g. a concurrent maintenance
        job or a second ingest stream), re-read the new current snapshot
        and re-merge the SAME persisted batch against it, up to this many
        times (Iceberg commit-retry semantics). The epoch check re-runs
        each attempt, so two writers racing the same (checkpoint, batch)
        stay exactly-once: the loser observes the winner's epoch and
        returns None. Work per retry ∝ touched buckets (the batch is
        cached; only the target read + write redo).

        ``partial_update``: null payload columns in incoming events mean
        "unchanged" — the matched row keeps its stored value for them
        (Debezium-style sparse updates; see ``lww_resolve_partial``).
        ``content_sha256`` is recomputed on the merged row.

        ``mor``: override the table's ``merge_mode`` for this batch
        (None = table default). Merge-on-read appends the batch as
        per-bucket log files instead of rewriting touched buckets —
        write cost ∝ batch, resolution deferred to read time (see
        ``create`` / ``compact_logs``). ``partial_update`` always runs
        copy-on-write: sparse events need the STORED row at merge time
        to fill unchanged columns; read-time LWW can't reconstruct them
        from a log row that only carries the changed fields."""
        use_mor = (self.merge_mode == "mor") if mor is None else bool(mor)
        if partial_update:
            use_mor = False
        parent = self.current_snapshot_id()
        parent_m = self.manifest(parent) if parent else None
        self._sync_layout(parent_m)
        epoch_key = f"{checkpoint_id}:{batch_id}"
        applied = set(parent_m["applied_epochs"]) if parent_m else set()
        if epoch_key in applied:
            return None

        # null op (possible when merge() is called directly, bypassing
        # normalize_events' op filter) must NOT become a null is_deleted —
        # null would make the row invisible to reads forever
        batch = winners.withColumn(
            "is_deleted", F.coalesce(F.col("op") == "delete", F.lit(False))
        )
        batch = batch.withColumn("_bucket", self.bucket_expr())
        # Persist for the duration of the merge: the bucket-stats collect
        # and the parquet write are SEPARATE actions with separately
        # compiled plans (Spark exchange reuse is per-plan only), so
        # without this the whole upstream pipeline — normalize (pandas-UDF
        # lang sniff included) and both LWW shuffles — would execute twice,
        # and the affected-bucket list would silently depend on the input
        # being deterministic across the two executions.
        batch = cached = batch.persist()
        try:
            attempt = 0
            while True:
                try:
                    return self._merge_persisted(
                        batch,
                        parent,
                        parent_m,
                        applied,
                        epoch_key,
                        seq_range,
                        checkpoint_id,
                        batch_id,
                        partial_update=partial_update,
                        mor=use_mor,
                    )
                except CommitConflict:
                    if attempt >= max_commit_retries:
                        raise
                    attempt += 1
                    logger.warning(
                        "commit conflict on %s (attempt %d/%d): re-merging "
                        "against the new current snapshot",
                        epoch_key, attempt, max_commit_retries,
                    )
                    parent = self.current_snapshot_id()
                    parent_m = self.manifest(parent) if parent else None
                    n0 = self.n_buckets
                    self._sync_layout(parent_m)
                    applied = (
                        set(parent_m["applied_epochs"]) if parent_m else set()
                    )
                    if epoch_key in applied:
                        return None  # the racing writer committed our epoch
                    if self.n_buckets != n0:
                        # a rebucket won the race: re-route the batch on
                        # the new modulus (cheap — reads from the cache)
                        batch = cached.drop("_bucket").withColumn(
                            "_bucket", self.bucket_expr()
                        )
        finally:
            cached.unpersist()

    def _merge_persisted(
        self,
        batch,
        parent,
        parent_m,
        applied,
        epoch_key,
        seq_range,
        checkpoint_id,
        batch_id,
        partial_update: bool = False,
        mor: bool = False,
    ) -> dict | None:
        # per-bucket stats in ONE job (also yields affected-bucket list);
        # materializes the persisted batch as a side effect
        bstats = {
            int(r["_bucket"]): r["n"]
            for r in batch.groupBy("_bucket").agg(F.count("*").alias("n")).collect()
        }
        if callable(seq_range):
            seq_range = seq_range()
        affected = sorted(bstats)
        if not affected:
            # empty batch: a metadata-only commit that records the epoch
            sid = self._new_snapshot_id()
            return self._commit_snapshot(
                parent_m, parent, sid, epoch_key,
                lineage=self._lineage(sid, checkpoint_id, batch_id, seq_range),
                applied_epochs=sorted(applied | {epoch_key}),
            )["lineage"]

        # schema reconciliation (column-add / widen) BEFORE the merge
        batch_schema = T.StructType(
            [f for f in batch.schema.fields if f.name != "_bucket"]
        )
        if parent_m:
            stored = T.StructType.fromJson(parent_m["schema"])
            new_schema = _merge_schemas(stored, batch_schema)
        else:
            new_schema = batch_schema

        batch = _conform(batch.drop("_bucket"), new_schema)
        # A bucket counts as "stored" if it has base files OR outstanding
        # MOR log files: a logs-only bucket (first rows arrived via a
        # mor_write that qualified because a sibling bucket had base files)
        # must NOT take the bulk-append fast path — that path skips the
        # target read and the COW commit branch pops the bucket's log
        # entries, silently dropping the prior rows.
        _parent_logs = (parent_m.get("logs") or {}) if parent_m else {}
        stored_files = parent_m and any(
            parent_m["files"].get(str(b)) or _parent_logs.get(str(b))
            for b in affected
        )
        mor_write = bool(mor and stored_files)
        # Merge-on-read: the batch (already one LWW winner per key,
        # conformed to the reconciled schema) IS the log delta — no target
        # read, no bucket rewrite; write ∝ batch size. Reads resolve
        # base ∪ logs per key (read() docstring).
        # Bulk-append fast path (reference analog: batch INSERT,
        # the reference's internal/database/batch.go bulk path): none of
        # the touched buckets has stored data, so the batch IS the merged
        # state — no target read, no union, no per-key window. This is
        # every first load and every backfill into fresh buckets.
        merged, resolve = batch, None
        if stored_files and not mor_write:
            # MERGE = LWW over (target ∪ batch): the stored row carries its
            # own (commit_seq, commit, op) order, so max-by-order implements
            # WHEN MATCHED AND b.ord > t.ord THEN UPDATE/DELETE, WHEN NOT
            # MATCHED THEN INSERT, and replays/out-of-order arrivals are
            # no-ops. The target is read raw — base files, then MOR logs in
            # commit order — and the batch ranks last, so a stored copy
            # wins a tie. _write_snapshot resolves base ∪ logs ∪ batch
            # after routing rows by bucket, in its one exchange; per key
            # that is one base row, a few log rows and one batch row.
            target = [
                _conform(p, new_schema)
                for p in self._arrival_scans(parent_m, affected)
            ]
            merged = rank_arrivals([*target, batch])
            resolve = self._bucket_lww(
                len(target) if partial_update else None
            )
        snap = self._write_snapshot(
            merged.withColumn("_bucket", self.bucket_expr()),
            affected, self.write_sort, self.target_file_rows,
            resolve=resolve,
        )

        # snap.bucket_meta holds the tombstone stats of the files just
        # written; untouched buckets' stats carry forward. expire_tombstones
        # selects buckets from these stats instead of scanning the table.
        if mor_write:
            # base files untouched; the new files are per-bucket log deltas
            logs = dict(parent_m.get("logs") or {})
            for b, ps in snap.files.items():
                logs[b] = list(logs.get(b, ())) + ps
            # tombstone stats become an additive UPPER bound (a log
            # tombstone may shadow a base one): still safe for triggering
            # expiry, which rewrites with the exact predicate. Buckets
            # with no prior entry stay unknown -> expiry's scan fallback.
            bucket_meta = dict(parent_m.get("bucket_meta", {}))
            for b, nm in snap.bucket_meta.items():
                old = bucket_meta.get(b)
                if old is not None:
                    tseqs = [
                        s
                        for s in (old["min_tomb_seq"], nm["min_tomb_seq"])
                        if s is not None
                    ]
                    bucket_meta[b] = {
                        "n_tombstones": old["n_tombstones"]
                        + nm["n_tombstones"],
                        "min_tomb_seq": min(tseqs) if tseqs else None,
                    }
            changes = {
                "logs": logs,
                "bucket_meta": bucket_meta,
                "file_meta": self._carry_file_meta(
                    parent_m, parent_m["files"], snap.file_meta, logs
                ),
            }
        else:
            # COW rewrite folds any outstanding log rows (the target read
            # resolves them) — their files drop out of the manifest
            changes = self._replace_buckets(parent_m, snap, affected)
        return self._commit_snapshot(
            parent_m, parent, snap.sid, epoch_key,
            lineage=self._lineage(
                snap.sid, checkpoint_id, batch_id, seq_range, bstats
            ),
            applied_epochs=sorted(applied | {epoch_key}),
            schema=new_schema.jsonValue(),
            **changes,
        )["lineage"]

    @staticmethod
    def _derived_epoch(prefix: str, *parts) -> str:
        """Default exactly-once epoch key for predicate DML: a hash of
        the operation's own arguments. Distinct operations run with
        default flags must occupy distinct epochs — a shared constant
        would silently swallow the second operation as an epoch replay.
        Re-running the SAME predicate on purpose (to catch rows that
        started matching later) still needs an explicit checkpoint_id or
        batch_id."""
        import hashlib

        return (
            prefix
            + "-"
            + hashlib.sha256(repr(parts).encode()).hexdigest()[:12]
        )

    def delete_where(
        self,
        condition,
        checkpoint_id: str | None = None,
        batch_id: int = 0,
        range_filters: dict | None = None,
    ) -> dict | None:
        """Predicate delete (takedown / right-to-erasure path; reference
        analog: the delete sink, /root/reference/internal/database —
        here expressed as CDC): synthesize one tombstone event per
        matching LIVE row, outranking the stored row (its own
        ``commit_seq + 1``), and route it through the normal MERGE.
        Everything downstream therefore observes the deletes like any
        other CDC event: exactly-once epochs, lineage, ``read_changes``
        (delete rows), and the feed-driven index syncs (ANN / minhash /
        alias) clear the affected entries on their next sync.

        The tombstone keeps ONLY key + order columns — every payload
        column is nulled, so the erased content does not survive in the
        tombstone (it does survive in older snapshots until
        ``expire_snapshots``; run that plus ``expire_tombstones`` to
        complete a hard erasure).

        ``condition``: SQL string or Column. ``range_filters`` optionally
        scopes the scan with zone-map file skipping — a takedown keyed by
        time or id range reads only the overlapping files, not the table.
        A later genuine event with a higher commit_seq still wins: keys
        deleted here resurrect correctly if the source re-adds them.

        ``checkpoint_id=None`` (default) derives the exactly-once epoch
        from the operation's arguments, so distinct deletes never collide
        while a byte-identical replay is still a no-op; pass an explicit
        checkpoint_id/batch_id to deliberately re-run the same predicate.

        Returns the merge lineage record (rows_applied = rows deleted),
        or None if this epoch already committed."""
        if checkpoint_id is None:
            checkpoint_id = self._derived_epoch(
                "delete-where", str(condition), repr(range_filters)
            )
        m = self.manifest()
        if m is None:
            return None
        matched = self.read(range_filters=range_filters).filter(condition)
        schema = T.StructType.fromJson(m["schema"])
        keep = set(self.key_cols) | {"commit_seq"}
        proj = []
        for f_ in schema.fields:
            if f_.name == "is_deleted":
                continue
            if f_.name in keep:
                proj.append(F.col(f_.name))
            elif f_.name == "op":
                proj.append(F.lit("delete").alias("op"))
            elif f_.name == "commit":
                proj.append(F.lit(f"del:{checkpoint_id}").alias("commit"))
            else:
                proj.append(
                    F.lit(None).cast(f_.dataType).alias(f_.name)
                )
        ev = matched.select(*proj).withColumn(
            "commit_seq", F.col("commit_seq") + F.lit(1)
        )
        return self.merge(ev, checkpoint_id=checkpoint_id, batch_id=batch_id)

    def update_where(
        self,
        condition,
        assignments: dict,
        checkpoint_id: str | None = None,
        batch_id: int = 0,
        range_filters: dict | None = None,
    ) -> dict | None:
        """Predicate UPDATE (the reference's update sink S13,
        `sql/vulnerabilities.sql:46-64`, as a table verb — completing
        the DML set next to ``merge`` and ``delete_where``): for every
        LIVE row matching ``condition``, apply the ``assignments``
        column expressions (``{col: Column | SQL string}``), synthesize
        an update event outranking the stored row (its own
        ``commit_seq + 1``), and route it through the normal MERGE —
        exactly-once epochs, lineage, the change feed, and feed-driven
        index syncs all observe it as ordinary CDC.

        Key / order / invariant columns cannot be set; when the table
        carries ``content_sha256`` and ``content`` is updated, the hash
        invariant is recomputed automatically. ``range_filters`` scopes
        the scan with zone-map file skipping, so a time- or id-ranged
        backfill-fix reads only the overlapping files. A later genuine
        event with a higher commit_seq still wins over the synthesized
        update. ``checkpoint_id=None`` (default) derives the exactly-once
        epoch from the operation's arguments (condition + assignments),
        so distinct updates never collide while a byte-identical replay
        is still a no-op; pass an explicit checkpoint_id/batch_id to
        deliberately re-run the same operation. Returns the merge
        lineage (rows_applied = rows updated), or None if this epoch
        already committed."""
        if checkpoint_id is None:
            checkpoint_id = self._derived_epoch(
                "update-where",
                str(condition),
                repr({c: str(e) for c, e in assignments.items()}),
                repr(range_filters),
            )
        m = self.manifest()
        if m is None:
            return None
        # content IS updatable (the payload); its hash is derived, never set
        protected = (set(self._protected_cols()) | {"op", "commit"}) - {
            "content"
        }
        schema_cols = {f.name for f in T.StructType.fromJson(m["schema"])}
        for c in assignments:
            if c in protected:
                raise ValueError(f"update_where: column {c!r} is protected")
            if c not in schema_cols:
                raise ValueError(f"update_where: unknown column {c!r}")
        matched = self.read(range_filters=range_filters).filter(condition)
        out = matched
        for c, expr in assignments.items():
            out = out.withColumn(
                c, F.expr(expr) if isinstance(expr, str) else expr
            )
        if "content" in assignments and "content_sha256" in schema_cols:
            from ..functions.hashing import content_sha256

            out = out.withColumn(
                "content_sha256", content_sha256(F.col("content"))
            )
        out = out.withColumn(
            "commit_seq", F.col("commit_seq") + F.lit(1)
        ).withColumn("op", F.lit("update"))
        return self.merge(
            out, checkpoint_id=checkpoint_id, batch_id=batch_id
        )

    def _zone_cols(self, schema: T.StructType) -> list[T.StructField]:
        """Columns eligible for per-file zone-map stats: every numeric /
        timestamp / date column, plus STRING columns only when they are
        key columns (short by construction). Free-text payload columns
        (document content, summaries) are deliberately excluded — their
        bounds would put long strings into every manifest for ranges
        nobody filters on."""
        out = []
        for f_ in schema.fields:
            if f_.name in ("bucket", "is_deleted"):
                continue
            t = f_.dataType.typeName()
            if t in (
                "byte", "short", "integer", "long", "float", "double",
                "timestamp", "date",
            ) or (t == "string" and f_.name in self.key_cols):
                out.append(f_)
        return out

    @staticmethod
    def _enc_stat(v):
        """JSON-encode a min/max so comparisons on the stored form are
        order-preserving: timestamps/dates to fixed-width ISO strings
        (lexicographic == chronological), numbers as-is."""
        if v is None:
            return None
        if hasattr(v, "strftime"):
            if hasattr(v, "hour"):
                return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
            return v.strftime("%Y-%m-%d")
        return v

    @classmethod
    def _zone_entry(cls, mn, mx, f_: T.StructField, nan: bool = False):
        """The stored ``[min, max]`` zone of column ``f_`` from its min and
        max (naive local datetimes for timestamps, as ``collect()`` gives
        them); ``nan`` says the column holds a NaN, which Spark orders
        above every number. None when nothing can bound it.

        * All-null column: ``[None, None]``.
        * Strings keep the 64-char cap: the min is cut to 64 chars (a cut
          prefix is still a lower bound), a max of 65+ chars is stored as
          None (unbounded).
        * A float/double column holding NaN stores no max (NaN is above
          every bound); an all-NaN column is left unbounded (None)."""
        if nan:
            if mn is None:
                return None
            mx = None
        elif f_.dataType.typeName() == "string":
            if mn is not None and len(mn) > 64:
                mn = mn[:64]
            if mx is not None and len(mx) >= 65:
                mx = None
        return [cls._enc_stat(mn), cls._enc_stat(mx)]

    @classmethod
    def _footer_zone(cls, md, j: int, f_: T.StructField):
        """Zone of column ``j`` folded over the row groups of footer
        ``md`` (see ``_zone_entry``); None when the footer cannot bound
        it: a row group holds values but no min/max (INT96 timestamps),
        or every value is NaN.

        Footer timestamps are UTC-aware; they are turned into the naive
        local datetime ``collect()`` gives, so the stored strings match
        what a Spark scan records. parquet-java orders NaN above every
        number, as Spark does: a float row group holding NaN has max NaN,
        and min NaN only when every value is NaN."""
        mn = mx = None
        nan = False
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_null_count:
                return None
            if st.num_values == 0:
                continue  # only nulls in this row group
            if not st.has_min_max:
                return None
            lo, hi = st.min, st.max
            if isinstance(hi, float) and math.isnan(hi):
                nan = True
                if math.isnan(lo):
                    continue  # every value NaN
                hi = lo
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        if f_.dataType.typeName() == "timestamp" and mn is not None:
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            us = datetime.timedelta(microseconds=1)
            mn, mx = (
                T.TimestampType().fromInternal((v - epoch) // us)
                for v in (mn, mx)
            )
        return cls._zone_entry(mn, mx, f_, nan)

    @classmethod
    def _data_zone(cls, arr, f_: T.StructField):
        """Zone of a non-float column read back from its file (a pyarrow
        array), for a column whose footer cannot bound it; same rules as
        ``_footer_zone``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        ts = f_.dataType.typeName() == "timestamp"
        if ts:
            # INT96 reads as naive UTC, INT64 as UTC-aware: both to micros
            arr = pc.cast(pc.cast(arr, pa.timestamp("us")), pa.int64())
        mm = pc.min_max(arr).as_py()
        mn, mx = mm["min"], mm["max"]
        if ts and mn is not None:
            mn, mx = (T.TimestampType().fromInternal(v) for v in (mn, mx))
        return cls._zone_entry(mn, mx, f_)

    @staticmethod
    def _tomb_stats(pf, md, at: dict):
        """``(n_tombstones, min tombstone commit_seq)`` of one open file.
        Only row groups whose footer shows an ``is_deleted=True`` (or has
        no stats for it) are read, and only ``is_deleted`` and
        ``commit_seq``; a file without tombstones reads no data."""
        import pyarrow.compute as pc

        j = at["is_deleted"]
        rgs = []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is not None and st.has_null_count and st.num_values == 0:
                continue  # only nulls
            if st is not None and st.has_min_max and not st.max:
                continue  # no True
            rgs.append(i)
        if not rgs:
            return 0, None
        t = pf.read_row_groups(rgs, columns=["is_deleted", "commit_seq"])
        dead = pc.fill_null(t["is_deleted"], False)
        mts = pc.min(pc.filter(t["commit_seq"], dead)).as_py()
        return int(pc.sum(dead).as_py() or 0), mts

    def _write_stats(self, files: dict, schema: T.StructType):
        """Both stats layers the manifest carries, for the files one
        ``_write_snapshot`` wrote (``files``: bucket -> manifest-relative
        paths; ``schema``: the written frame's), taken on the driver with
        no Spark job:

        * ``bucket_meta`` — per-bucket tombstone stats (feeds
          ``expire_tombstones``'s no-scan bucket selection); see
          ``_tomb_stats``;
        * ``file_meta`` — per-FILE row counts and min/max zone maps for
          numeric / timestamp / date / key columns (feeds
          ``read(range_filters=)`` file skipping — the Iceberg
          manifest-stats / Delta data-skipping pattern; reference analog:
          the B-tree index scan behind incremental modified-since sync,
          the reference's sql/vulnerabilities.sql:128-132), taken from
          the parquet footers (see ``_footer_zone``).

        A column the footer cannot bound — timestamps written as INT96,
        which carry no footer stats — is read back from the file with
        pyarrow (``_data_zone``): one column, on the driver, ∝ the rows
        written. ``get_spark`` writes INT64 timestamps, so the CDC table
        reads no zone column back, and its files without tombstones read
        no data at all. Files already in the table keep the stats
        recorded when they were written; they are never re-read."""
        import pyarrow.parquet as pq

        zcols = self._zone_cols(schema)
        tomb = "is_deleted" in schema.names and "commit_seq" in schema.names
        bucket_meta: dict[str, dict] = {}
        file_meta: dict[str, dict] = {}
        for b, rels in files.items():
            for rel in rels:
                with pq.ParquetFile(
                    os.path.join(self.root, rel),
                    coerce_int96_timestamp_unit="us",
                ) as pf:
                    md = pf.metadata
                    at = {
                        md.schema.column(j).path: j
                        for j in range(md.num_columns)
                    }
                    cols, unbounded = {}, []
                    for f_ in zcols:
                        if f_.name not in at:
                            continue
                        zone = self._footer_zone(md, at[f_.name], f_)
                        if zone is not None:
                            cols[f_.name] = zone
                        # float footers always carry min/max: None there
                        # means all NaN, which nothing bounds
                        elif f_.dataType.typeName() not in ("float", "double"):
                            unbounded.append(f_)
                    if unbounded:
                        t = pf.read(columns=[f_.name for f_ in unbounded])
                        for f_ in unbounded:
                            cols[f_.name] = self._data_zone(t[f_.name], f_)
                    file_meta[rel] = {"rows": int(md.num_rows), "cols": cols}
                    if not tomb:
                        continue
                    n, mts = self._tomb_stats(pf, md, at)
                bm = bucket_meta.setdefault(
                    b, {"n_tombstones": 0, "min_tomb_seq": None}
                )
                bm["n_tombstones"] += n
                if mts is not None:
                    bm["min_tomb_seq"] = (
                        int(mts)
                        if bm["min_tomb_seq"] is None
                        else min(bm["min_tomb_seq"], int(mts))
                    )
        return bucket_meta, file_meta

    def _carry_file_meta(
        self, parent_m: dict | None, files: dict, new_meta: dict, logs: dict
    ) -> dict:
        """file_meta for a new manifest: fresh stats for just-written
        files, parent stats carried forward for files still referenced
        (MOR log files included — their zone maps drive the key-column
        pruning read() still applies inside logged buckets)."""
        old = dict(parent_m.get("file_meta", {})) if parent_m else {}
        old.update(new_meta)
        live = set(self._referenced({"files": files, "logs": logs}))
        return {p: meta for p, meta in old.items() if p in live}

    # ---------- the snapshot-commit protocol ----------

    @staticmethod
    def _new_snapshot_id() -> str:
        """``<millis:013d>-<uuid8>``; the millis prefix is the write era
        ``_file_era`` parses out of every data path."""
        return f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"

    def _bucket_lww(self, sparse_from: int | None = None):
        """The LWW resolve a copy-on-write rewrite hands
        ``_write_snapshot``: per key within its bucket. Leading the window
        partitioning with ``_bucket`` lets the bucket routing satisfy it,
        so Spark plans no second exchange.

        ``sparse_from``: the arrival rank of a partial-update batch. Rows
        ranked below it are stored full rows, so only the newest of them
        per key meets the batch's sparse fill: a null in a newer log row
        stays null instead of taking an older base row's value."""
        keys = ("_bucket", *self.key_cols)
        if sparse_from is None:
            return lambda d: lww_resolve(d, key_cols=keys)

        def resolve(d: DataFrame) -> DataFrame:
            stored = F.col(ARRIVAL) < sparse_from
            w = Window.partitionBy(*keys, stored).orderBy(*lww_order(d, keys))
            newest = d.withColumn("_rn", F.row_number().over(w)).filter(
                ~stored | (F.col("_rn") == 1)
            )
            return lww_resolve_partial(newest.drop("_rn"), key_cols=keys)

        return resolve

    def _warn_int96(self, schema: T.StructType) -> None:
        """Warn once per table when this session writes timestamp zone
        columns as INT96: their footers carry no stats, so
        ``_write_stats`` reads them back from every new file."""
        if self.root in _INT96_WARNED or not any(
            f_.dataType.typeName() == "timestamp"
            for f_ in self._zone_cols(schema)
        ):
            return
        conf = "spark.sql.parquet.outputTimestampType"
        if self.spark.conf.get(conf) == "INT96":
            _INT96_WARNED.add(self.root)
            logger.warning(
                "%s: %s=INT96 writes timestamps without footer stats; "
                "their zone maps are read back from each new file on the "
                "driver. Set it to TIMESTAMP_MICROS to take them from "
                "the footers.",
                self.root,
                conf,
            )

    def _write_snapshot(
        self,
        df: DataFrame,
        buckets: list[int],
        sort_by: tuple[str, ...],
        target_rows: int | None,
        resolve=None,
    ) -> _Snapshot:
        """Write ``df`` (carrying a ``_bucket`` column whose values are in
        ``buckets``) as a new snapshot under ``data/snap-<sid>/bucket=<b>/``,
        list its files per bucket and take their stats from the footers.

        One exchange routes rows to write tasks on the plain ``_bucket``
        column: each bucket lands whole in one task, so there is one file
        per bucket (more only under ``target_rows``), and there are about
        as many tasks as task slots, not one per bucket. ``resolve``, when
        given, runs on the routed frame before the sort and write; a
        window partitioned by ``("_bucket", ...)`` reuses the routing
        exchange (``_bucket_lww``). Routing on an expression of
        ``_bucket`` would not: the window would plan its own exchange and
        split buckets across tasks.

        ``sort_by`` (usually the table's ``write_sort``) orders rows
        within each bucket so split files carry disjoint zone ranges;
        columns not present in this frame are skipped (pre-schema-
        evolution batches). ``target_rows`` caps rows per file."""
        sid = self._new_snapshot_id()
        snap_rel = os.path.join("data", f"snap-{sid}")
        snap_dir = os.path.join(self.root, snap_rel)
        # a row goes to task (bucket mod k); widen k until the buckets
        # spread over as many tasks as there are slots (every residue is
        # distinct once k > max(buckets))
        want = min(len(buckets), self.spark.sparkContext.defaultParallelism)
        k = want
        while len({b % k for b in buckets}) < want:
            k += 1
        out = df.repartitionById(k, "_bucket")
        if resolve is not None:
            out = resolve(out)
        sort_cols = [c for c in sort_by if c in df.columns]
        if sort_cols:
            out = out.sortWithinPartitions("_bucket", *sort_cols)
            # helper sort keys (e.g. the z-order interleave) are not
            # table columns; dropping is a projection, order-preserving
            helpers = [c for c in sort_cols if c.startswith("_z")]
            if helpers:
                out = out.drop(*helpers)
        out = out.withColumnRenamed("_bucket", "bucket")
        self._warn_int96(out.schema)
        w = out.write.partitionBy("bucket")
        if target_rows:
            w = w.option("maxRecordsPerFile", int(target_rows))
        w.parquet(snap_dir)
        files = {}
        for bdir in sorted(glob.glob(os.path.join(snap_dir, "bucket=*"))):
            files[bdir.rsplit("=", 1)[1]] = sorted(
                os.path.join(snap_rel, os.path.basename(bdir), os.path.basename(p))
                for p in glob.glob(os.path.join(bdir, "*.parquet"))
            )
        bucket_meta, file_meta = self._write_stats(files, out.schema)
        return _Snapshot(sid, files, bucket_meta, file_meta)

    def _replace_buckets(
        self, base: dict | None, snap: _Snapshot, buckets
    ) -> dict:
        """Manifest changes for a copy-on-write rewrite of ``buckets``:
        their base files, MOR logs and tombstone stats give way to the
        snapshot's; every other bucket carries forward by reference."""
        base = base or {}
        files = dict(base.get("files", {}))
        logs = dict(base.get("logs") or {})
        bucket_meta = dict(base.get("bucket_meta", {}))
        for b in map(str, buckets):
            files.pop(b, None)
            logs.pop(b, None)
            bucket_meta.pop(b, None)
        files.update(snap.files)
        bucket_meta.update(snap.bucket_meta)
        return {
            "files": files,
            "logs": logs,
            "bucket_meta": bucket_meta,
            "file_meta": self._carry_file_meta(
                base, files, snap.file_meta, logs
            ),
        }

    @staticmethod
    def _lineage(
        sid: str,
        checkpoint_id: str,
        batch_id: int = 0,
        seq_range=None,
        buckets: dict | None = None,
    ) -> dict:
        """The lineage record of one commit; ``buckets`` maps bucket ->
        rows applied (empty for metadata-only commits)."""
        buckets = buckets or {}
        return {
            "snapshot_id": sid,
            "checkpoint_id": checkpoint_id,
            "batch_id": batch_id,
            "seq_start": seq_range[0] if seq_range else None,
            "seq_end": seq_range[1] if seq_range else None,
            "rows_applied": int(sum(buckets.values())),
            "buckets": {str(b): int(n) for b, n in buckets.items()},
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }

    def _commit_snapshot(
        self,
        base: dict | None,
        parent: str | None,
        sid: str,
        epoch: str,
        lineage: dict | None = None,
        **changes,
    ) -> dict:
        """Commit snapshot ``sid`` as the successor of ``parent``.

        The manifest starts from ``base`` (the parent's manifest; the
        target's for ``rollback``; None for a first commit) and applies
        ``changes`` — any of files, logs, bucket_meta, file_meta, schema,
        schema_log, applied_epochs, n_buckets; every key not named
        carries forward. On ``CommitConflict`` this attempt's
        ``data/snap-<sid>/`` is removed before re-raising (its files are
        unreachable from any manifest). ``lineage``, when given, is
        stored in the manifest and appended to ``_lineage/``."""
        b = base or {}
        manifest = {
            "snapshot_id": sid,
            "n_buckets": b.get("n_buckets") or self.n_buckets,
            "parent": parent,
            "epoch": epoch,
            "applied_epochs": sorted(b.get("applied_epochs", [])),
            "schema": b.get("schema") or T.StructType([]).jsonValue(),
            "files": dict(b.get("files", {})),
            "logs": dict(b.get("logs") or {}),
            "bucket_meta": dict(b.get("bucket_meta", {})),
            "file_meta": dict(b.get("file_meta", {})),
            "schema_log": list(b.get("schema_log", [])),
            "lineage": lineage,
        }
        manifest.update(changes)
        try:
            self._commit(manifest, expected_parent=parent)
        except CommitConflict:
            shutil.rmtree(
                os.path.join(self.root, "data", f"snap-{sid}"),
                ignore_errors=True,
            )
            raise
        if lineage is not None:
            self._append_lineage(lineage)
        return manifest

    def _commit(self, manifest: dict, expected_parent: str | None):
        if self.current_snapshot_id() != expected_parent:
            raise CommitConflict("concurrent commit detected (parent moved)")
        sid = manifest["snapshot_id"]
        self._atomic_write(self._manifest_path(sid), json.dumps(manifest))
        if self.branch is not None:
            # branch commit: move the branch ref, never `_current`
            refs = self.refs()
            if refs["branches"].get(self.branch) != expected_parent:
                raise CommitConflict(
                    f"concurrent commit on branch {self.branch!r}"
                )
            refs["branches"][self.branch] = sid
            self._write_refs(refs)  # atomic (tmp + replace)
            return
        # atomic pointer swap
        self._atomic_write(os.path.join(self.root, "_current"), sid)

    def _append_lineage(self, lineage: dict):
        """Per-micro-batch lineage parquet (FIXTURES.md §4; reference analog:
        processing_stats, /root/reference/migrations/001_initial_schema
        .up.sql:75-88). One tiny file per commit; compaction-friendly."""
        ldir = os.path.join(self.root, "_lineage")
        os.makedirs(ldir, exist_ok=True)
        import pandas as pd

        rows = [
            {
                "snapshot_id": lineage["snapshot_id"],
                "checkpoint_id": lineage["checkpoint_id"],
                "batch_id": lineage["batch_id"],
                "bucket": int(b),
                "seq_start": lineage["seq_start"],
                "seq_end": lineage["seq_end"],
                "rows_applied": int(n),
                "committed_at": lineage["committed_at"],
            }
            for b, n in (lineage["buckets"] or {"-1": 0}).items()
        ]
        out = os.path.join(ldir, f"{lineage['snapshot_id']}.parquet")
        # tmp + rename: a concurrent compact/expire/read must never see a
        # half-written parquet
        pd.DataFrame(rows).to_parquet(out + ".tmp", index=False)
        os.replace(out + ".tmp", out)

    def read_lineage(self) -> DataFrame:
        ldir = os.path.join(self.root, "_lineage")
        if not glob.glob(os.path.join(ldir, "*.parquet")):
            # empty (never committed, or fully expired): a stable empty
            # frame instead of Spark's unable-to-infer-schema error
            return self.spark.createDataFrame(
                [], T.StructType.fromDDL(LINEAGE_DDL)
            )
        return self.spark.read.parquet(ldir)

    # ---------- maintenance ----------

    def compact_lineage(self, max_files: int = 64) -> dict:
        """Compact ``_lineage/`` small files: every commit appends one tiny
        parquet, so at streaming cadence the directory accrues unbounded
        file count (the classic small-files problem). When the directory
        holds more than ``max_files`` parquet files, rewrite them into ONE
        ``compacted-*.parquet`` (reference analog: periodic job-stats
        cleanup, /root/reference/internal/jobs/server.go:690-727 +
        /root/reference/sql/jobs.sql:38-41).

        Crash-safe ordering: the compacted file is written to a temp name
        and moved in BEFORE the inputs are removed — a crash in between
        duplicates rows only until the next compaction, and lineage
        consumers (stats, resume checks) key on (checkpoint_id, batch_id),
        for which duplicates are idempotent.
        """
        return self._compact_small_files(
            "_lineage",
            dedup_subset=["snapshot_id", "checkpoint_id", "batch_id",
                          "bucket"],
            sort_keys=["snapshot_id", "bucket"],
            max_files=max_files,
        )

    def _compact_small_files(
        self,
        subdir: str,
        dedup_subset: list[str],
        sort_keys: list[str],
        max_files: int,
        string_cols: tuple[str, ...] = (),
    ) -> dict:
        import pandas as pd

        ldir = os.path.join(self.root, subdir)
        files = sorted(glob.glob(os.path.join(ldir, "*.parquet")))
        if len(files) <= max_files:
            return {"compacted": 0, "files_before": len(files),
                    "files_after": len(files)}
        merged = pd.concat([pd.read_parquet(f) for f in files],
                           ignore_index=True)
        merged = merged.drop_duplicates(subset=dedup_subset).sort_values(
            sort_keys
        )
        for c in string_cols:
            # an all-null string column (or one absent from older files)
            # must not let pyarrow re-infer a non-string physical type
            if c in merged.columns:
                merged[c] = merged[c].astype("string")
        out = os.path.join(
            ldir, f"compacted-{int(time.time() * 1000):013d}.parquet"
        )
        merged.to_parquet(out + ".tmp", index=False)
        os.replace(out + ".tmp", out)
        for f in files:
            os.remove(f)
        logger.info(
            "compact %s: %d files -> 1 (%d rows)",
            subdir, len(files), len(merged),
        )
        return {"compacted": len(files), "files_before": len(files),
                "files_after": 1, "rows": int(len(merged))}

    # ---------- export-run tracking ----------

    def record_export(self, record: dict) -> dict:
        """Record an export run next to the merge lineage (reference
        ``exports`` table: migrations/001_initial_schema.up.sql:95-108,
        written by internal/jobs/server.go:544-588 — id, type, status,
        file path/size, record count, timestamps). One tiny parquet per
        run under ``_exports/``, tmp+rename like ``_append_lineage``;
        ``compact_exports`` bounds the file count."""
        import pandas as pd

        edir = os.path.join(self.root, "_exports")
        os.makedirs(edir, exist_ok=True)
        export_id = f"exp-{int(time.time() * 1000):013d}-{os.getpid()}"
        row = {
            "export_id": export_id,
            "format": record.get("format"),
            "compression": bool(record.get("compression")),
            "rows": int(record.get("rows") or 0),
            "file_bytes": int(record.get("file_bytes") or 0),
            "snapshot_id": record.get("snapshot_id"),
            "path": record.get("path"),
            "status": record.get("status", "completed"),
            "exported_at": record.get("exported_at")
            or time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "mode": record.get("mode", "full"),
            "base_snapshot_id": record.get("base_snapshot_id"),
        }
        out = os.path.join(edir, f"{export_id}.parquet")
        pdf = pd.DataFrame([row])
        # all-None columns (base_snapshot_id on a full export) must not
        # let pyarrow infer a non-string physical type
        for c in (
            "export_id", "format", "snapshot_id", "path", "status",
            "exported_at", "mode", "base_snapshot_id",
        ):
            pdf[c] = pdf[c].astype("string")
        pdf.to_parquet(out + ".tmp", index=False)
        os.replace(out + ".tmp", out)
        return row

    # ---------- change-feed consumers ----------

    def feed_cursor(self, consumer_id: str) -> str | None:
        """Last snapshot this consumer has fully processed (None = never
        consumed)."""
        c = self._read_json(
            os.path.join(self.root, "_feeds", f"{consumer_id}.json")
        )
        return c["snapshot_id"] if c else None

    def consume_changes(
        self,
        consumer_id: str,
        handler,
        reset_on_missing_base: bool = False,
    ) -> dict | None:
        """Deliver the row-level change feed accumulated since this
        consumer's cursor (the subscriber half of :meth:`read_changes` —
        how a downstream index/export job tails the table), then advance
        the per-consumer cursor under ``_feeds/``.

        ``handler(feed_df, from_sid, to_sid)`` runs BEFORE the cursor
        moves, so delivery is at-least-once: a crash between handler
        success and the cursor write replays the same (from, to) window
        — handlers must be idempotent on that pair, the same contract
        foreachBatch gives epoch ids. Returns the advance record, or
        None when there is nothing new.

        If snapshot expiry removed the cursor's base manifest, the diff
        is no longer computable: with ``reset_on_missing_base`` the
        consumer is re-seeded with a full feed (every live row as an
        insert — the bootstrap resync); otherwise a ValueError names
        the expired base. Cost per call is the read_changes cost: ∝
        touched buckets between the cursor and now, never table size."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", consumer_id):
            raise ValueError(f"invalid consumer_id: {consumer_id!r}")
        cur = self.feed_cursor(consumer_id)
        to = self.current_snapshot_id()
        if to is None or to == cur:
            return None
        if cur is not None and self.manifest(cur) is None:
            if not reset_on_missing_base:
                raise ValueError(
                    f"consume_changes: base snapshot {cur} of consumer "
                    f"{consumer_id!r} was expired; pass "
                    "reset_on_missing_base=True to re-seed with a full "
                    "feed"
                )
            logger.warning(
                "feed consumer %s: base %s expired, re-seeding with a "
                "full feed",
                consumer_id,
                cur,
            )
            cur = None
        handler(self.read_changes(cur, to), cur, to)
        fdir = os.path.join(self.root, "_feeds")
        os.makedirs(fdir, exist_ok=True)
        rec = {
            "consumer_id": consumer_id,
            "snapshot_id": to,
            "from_snapshot_id": cur,
            "advanced_at": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
        }
        self._atomic_write(
            os.path.join(fdir, f"{consumer_id}.json"), json.dumps(rec)
        )
        return rec

    def read_exports(self) -> DataFrame:
        edir = os.path.join(self.root, "_exports")
        if not glob.glob(os.path.join(edir, "*.parquet")):
            return self.spark.createDataFrame(
                [], T.StructType.fromDDL(EXPORT_DDL)
            )
        # explicit schema: rows written before a column existed (e.g.
        # mode/base_snapshot_id) clip to null instead of breaking the union
        return self.spark.read.schema(
            T.StructType.fromDDL(EXPORT_DDL)
        ).parquet(edir)

    def compact_exports(self, max_files: int = 64) -> dict:
        return self._compact_small_files(
            "_exports",
            dedup_subset=["export_id"],
            sort_keys=["export_id"],
            max_files=max_files,
            string_cols=(
                "export_id", "format", "snapshot_id", "path", "status",
                "exported_at", "mode", "base_snapshot_id",
            ),
        )

    def expire_lineage(self, older_than: str) -> dict:
        """Drop lineage rows with ``committed_at`` before ``older_than``
        (ISO-8601 UTC, e.g. '2026-01-01T00:00:00Z') — the reference's
        retention delete for processing stats (/root/reference/sql/
        jobs.sql:38-41, interval-based cleanup driven by
        /root/reference/internal/jobs/server.go:690-727). Rewrites only
        files whose min committed_at falls before the cutoff; wholly-aged
        files are removed without a rewrite."""
        import pandas as pd

        ldir = os.path.join(self.root, "_lineage")
        removed = rewritten = kept_rows = 0
        for f in sorted(glob.glob(os.path.join(ldir, "*.parquet"))):
            df = pd.read_parquet(f)
            keep = df[df["committed_at"] >= older_than]
            if len(keep) == len(df):
                kept_rows += len(df)
                continue
            if keep.empty:
                os.remove(f)
                removed += 1
            else:
                keep.to_parquet(f + ".tmp", index=False)
                os.replace(f + ".tmp", f)
                rewritten += 1
                kept_rows += len(keep)
        logger.info(
            "expire_lineage(<%s): removed %d files, rewrote %d",
            older_than, removed, rewritten,
        )
        return {"files_removed": removed, "files_rewritten": rewritten,
                "rows_kept": kept_rows}

    def expire_tombstones(self, below_seq: int):
        """Physically drop delete tombstones with commit_seq < below_seq.

        Safe once the stream guarantees no event older than ``below_seq``
        can still arrive (checkpoint watermark) — before that, tombstones
        must stay so late out-of-order updates cannot resurrect deleted
        keys (SURVEY.md §7.3 #5). Rewrites only buckets containing aged
        tombstones; commits a new snapshot.

        Bucket selection comes from the manifest's per-bucket tombstone
        stats (maintained incrementally at each merge) — NO full-table scan;
        at 100 TB this touches only manifest JSON plus the rewritten
        buckets. Buckets from pre-stats manifests (no ``bucket_meta``
        entry) are scanned as a fallback.
        """
        import pyspark.sql.functions as F  # local alias for clarity

        m = self.manifest()
        if m is None:
            return None
        self._sync_layout(m)
        bucket_meta = m.get("bucket_meta", {})
        affected: list[int] = []
        unknown: list[int] = []  # buckets with files but no stats entry
        logs = m.get("logs") or {}
        for b in set(m["files"]) | {b for b, ps in logs.items() if ps}:
            meta = bucket_meta.get(b)
            if meta is None:
                unknown.append(int(b))
            elif meta["n_tombstones"] > 0 and (
                meta["min_tomb_seq"] is not None
                and meta["min_tomb_seq"] < below_seq
            ):
                affected.append(int(b))
        if unknown:
            aged = (
                self.read(include_tombstones=True, buckets=unknown)
                .filter(
                    F.coalesce(F.col("is_deleted"), F.lit(False))
                    & (F.col("commit_seq") < below_seq)
                )
                .withColumn("_bucket", self.bucket_expr())
            )
            affected += [
                r["_bucket"]
                for r in aged.select("_bucket").distinct().collect()
            ]
        affected = sorted(set(affected))
        if not affected:
            return None
        kept = (
            self.read(include_tombstones=True, buckets=affected)
            .filter(
                # coalesce: a null is_deleted row is LIVE — the raw
                # predicate would evaluate to null and filter() would
                # silently purge it
                ~(
                    F.coalesce(F.col("is_deleted"), F.lit(False))
                    & (F.col("commit_seq") < below_seq)
                )
            )
            .withColumn("_bucket", self.bucket_expr())
        )
        snap = self._write_snapshot(
            kept, affected, self.write_sort, self.target_file_rows
        )
        # rewritten buckets take the new files' stats: tombstones with
        # seq >= below_seq survive the purge
        self._commit_snapshot(
            m, m["snapshot_id"], snap.sid,
            f"maintenance:expire_tombstones:{snap.sid}",
            **self._replace_buckets(m, snap, affected),
        )
        return snap.sid

    def compact_logs(
        self, buckets: list[int] | None = None, min_logs: int = 1
    ) -> str | None:
        """Fold merge-on-read log files back into base files (Hudi
        compaction / Iceberg rewrite-data-files analog). For each bucket
        with >= ``min_logs`` outstanding log files (optionally scoped to
        ``buckets``), read the RESOLVED state (base ∪ logs, tombstones
        included — they must survive until ``expire_tombstones``) and
        rewrite it as plain base files; untouched buckets carry forward
        by reference. Work ∝ rewritten buckets; reads before and after
        return identical rows — compaction only moves the LWW resolution
        from read time back to storage. Returns the new snapshot id, or
        None when no bucket qualifies."""
        m = self.manifest()
        if m is None:
            return None
        self._sync_layout(m)
        logmap = m.get("logs") or {}
        affected = sorted(
            int(b)
            for b, ps in logmap.items()
            if ps
            and len(ps) >= min_logs
            and (buckets is None or int(b) in buckets)
        )
        if not affected:
            return None
        # base ∪ logs unresolved: the LWW window runs after the bucket
        # routing, so the rewrite shuffles these rows once
        raw = rank_arrivals(self._arrival_scans(m, affected))
        snap = self._write_snapshot(
            raw.withColumn("_bucket", self.bucket_expr()),
            affected, self.write_sort, self.target_file_rows,
            resolve=self._bucket_lww(),
        )
        self._commit_snapshot(
            m, m["snapshot_id"], snap.sid,
            f"maintenance:compact_logs:{snap.sid}",
            **self._replace_buckets(m, snap, affected),
        )
        return snap.sid

    def rebucket(self, new_n_buckets: int) -> str:
        """Scale the key-space bucketing (the Iceberg rewrite-partitions
        analog): rewrite the CURRENT snapshot into ``new_n_buckets`` hash
        buckets and commit. The answer to "fixed n_buckets has no split
        story at 100x": when per-bucket data outgrows the target file
        size, a maintenance window rebuckets — one full rewrite, after
        which merge work is again ∝ touched buckets at the new
        granularity. Old snapshots keep reading their own files
        (time-travel unaffected); only future merges use the new layout.
        """
        m = self.manifest()
        self._sync_layout(m)
        if new_n_buckets == self.n_buckets:
            return self.current_snapshot_id()
        if m is None:
            # no committed snapshot yet: pre-scaling an empty table before
            # a large backfill must still take effect — adopt the layout in
            # _table.json so the first load lands on the new bucket count
            self.n_buckets = new_n_buckets
            self._write_layout(self.root, new_n_buckets)
            return self.current_snapshot_id()
        full = self.read(include_tombstones=True)
        # NOTE: self.n_buckets is mutated only AFTER a successful commit —
        # if the write or commit throws, this handle must keep operating
        # on the old (still-current) layout
        new_bucket = F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]),
            F.lit(new_n_buckets),
        ).cast("int")
        snap = self._write_snapshot(
            full.withColumn("_bucket", new_bucket), range(new_n_buckets),
            self.write_sort, self.target_file_rows,
        )
        self._commit_snapshot(
            m, m["snapshot_id"], snap.sid,
            f"maintenance:rebucket:{new_n_buckets}:{snap.sid}",
            n_buckets=new_n_buckets,
            files=snap.files,
            logs={},  # full rewrite resolves every outstanding delta
            bucket_meta=snap.bucket_meta,
            file_meta=snap.file_meta,
        )
        self.n_buckets = new_n_buckets
        # persist the new bucket count for bootstrap too (the committed
        # manifest above is authoritative; this swap is best-effort)
        self._write_layout(self.root, new_n_buckets)
        return snap.sid

    def cluster(
        self,
        sort_by: list[str] | tuple[str, ...] | None = None,
        target_file_rows: int | None = None,
        buckets: list[int] | None = None,
        zorder: list[str] | None = None,
        zorder_bits: int = 16,
    ) -> str | None:
        """Maintenance rewrite: sort rows WITHIN each hash bucket by
        ``sort_by`` and split each bucket into ~``target_file_rows``-row
        files. Logical state is unchanged; what changes is physical
        layout: after clustering, consecutive files cover disjoint
        ``sort_by`` ranges, so the per-file zone maps (taken from each
        new file's parquet footer by ``_write_stats``) turn a
        ``read(range_filters=...)`` into an I/O-∝-selectivity scan
        *inside* each bucket, and parquet row-group stats tighten the
        rest. This is the Delta OPTIMIZE ZORDER-lite / Iceberg
        rewrite_data_files(sort) analog: hash-bucket by key for merge
        locality, order by time within the bucket for read locality.

        ``buckets`` limits the rewrite to a subset (incremental
        clustering during maintenance windows); untouched buckets carry
        forward by reference. At 100 TB: work ∝ rewritten buckets, one
        shuffle (rows routed by bucket, at most one task per slot), sort
        is per-partition spillable.

        ``zorder=[c1, c2, ...]`` replaces the linear sort with a Morton
        bit-interleave of the (min-max scaled) columns — multi-dimension
        locality, so range probes on ANY of the z-ordered columns skip
        files, not just the leading sort column (Delta OPTIMIZE ZORDER
        analog; bounds come from the manifest's own zone maps, no extra
        scan). Mutually exclusive with ``sort_by``."""
        if (zorder is None) == (sort_by is None):
            raise ValueError("cluster: pass exactly one of sort_by / zorder")
        m = self.manifest()
        if m is None:
            return None
        self._sync_layout(m)
        affected = (
            sorted(buckets)
            if buckets is not None
            else sorted(int(b) for b in m["files"])
        )
        affected = [b for b in affected if m["files"].get(str(b))]
        if not affected:
            return None
        full = self.read(include_tombstones=True, buckets=affected)
        full = full.withColumn("_bucket", self.bucket_expr())
        if zorder is not None:
            from .zorder import global_bounds, zorder_expr

            schema = T.StructType.fromJson(m["schema"])
            zexpr = zorder_expr(
                list(zorder),
                global_bounds(m, list(zorder)),
                schema,
                bits=zorder_bits,
            )
            full = full.withColumn("_zkey", zexpr)
            sort_by = ("_zkey",)
        snap = self._write_snapshot(
            full, affected, tuple(sort_by), target_file_rows
        )
        self._commit_snapshot(
            m, m["snapshot_id"], snap.sid, f"maintenance:cluster:{snap.sid}",
            **self._replace_buckets(m, snap, affected),
        )
        return snap.sid

    def maintain(
        self,
        tombstone_watermark: int | None = None,
        tombstone_fraction: float = 0.2,
        cluster_sort: tuple[str, ...] | None = None,
        overlap_threshold: float = 0.25,
        keep_snapshots: int = 3,
        sidecar_max_files: int = 64,
        max_bucket_logs: int = 8,
    ) -> dict:
        """One stat-driven maintenance pass (the table doctor). EVERY
        decision reads manifest JSON only — zero table scans at any
        scale; work is then ∝ the buckets actually rewritten:

        * merge-on-read log compaction — buckets with >=
          ``max_bucket_logs`` outstanding log files are folded into
          their base (read cost decays as logs pile up; this bounds it);
        * tombstone expiry — when manifest tombstone counts reach
          ``tombstone_fraction`` of live rows AND the caller supplies the
          safe ``tombstone_watermark`` (stream checkpoint low-water mark);
        * re-clustering — buckets whose per-file zone maps show the sort
          order has decayed: a file larger than 2× ``target_file_rows``,
          or ≥ ``overlap_threshold`` of file pairs in a bucket with
          overlapping sort-column ranges (fresh clustered files are
          disjoint by construction, so overlap = interleaving = lost
          pruning power);
        * snapshot expiry (tag-pinned snapshots survive) and lineage /
          export sidecar compaction.

        Returns a report of what ran and why. Reference analog: the
        scheduled cleanup job, /root/reference/internal/jobs/
        server.go:690-727, generalized to layout health."""
        report: dict = {
            "tombstones_expired": None,
            "clustered_buckets": [],
            "cluster_reason": None,
            "log_compaction": [],
        }
        m = self.manifest()
        if m is None:
            return report
        self._sync_layout(m)

        # merge-on-read log compaction FIRST: folding deltas refreshes the
        # file/bucket stats every later decision reads (manifest JSON only)
        need_logs = sorted(
            int(b)
            for b, ps in (m.get("logs") or {}).items()
            if len(ps) >= max_bucket_logs
        )
        if need_logs:
            self.compact_logs(buckets=need_logs)
            report["log_compaction"] = need_logs
            m = self.manifest()

        bm = m.get("bucket_meta", {})
        fm = m.get("file_meta", {})
        total_rows = sum(f["rows"] for f in fm.values())
        total_tombs = sum(x.get("n_tombstones", 0) for x in bm.values())
        report["tombstone_fraction"] = (
            round(total_tombs / total_rows, 4) if total_rows else 0.0
        )
        if (
            tombstone_watermark is not None
            and total_rows
            and total_tombs / total_rows >= tombstone_fraction
        ):
            report["tombstones_expired"] = self.expire_tombstones(
                tombstone_watermark
            )
            m = self.manifest()
            fm = m.get("file_meta", {})

        sort_by = tuple(cluster_sort or self.write_sort)
        scol = sort_by[0] if sort_by else None
        if scol is not None:
            need, reasons = [], set()
            for b, paths in m["files"].items():
                stats = [
                    fm[p] for p in paths if p in fm and scol in fm[p]["cols"]
                ]
                if self.target_file_rows and any(
                    s["rows"] > 2 * self.target_file_rows for s in stats
                ):
                    need.append(int(b))
                    reasons.add("oversize-file")
                    continue
                rngs = [
                    s["cols"][scol]
                    for s in stats
                    if s["cols"][scol][0] is not None
                ]
                if len(rngs) >= 2:
                    pairs = overl = 0
                    for i in range(len(rngs)):
                        for j in range(i + 1, len(rngs)):
                            pairs += 1
                            (alo, ahi), (blo, bhi) = rngs[i], rngs[j]
                            if not (
                                (ahi is not None and blo is not None and ahi < blo)
                                or (bhi is not None and alo is not None and bhi < alo)
                            ):
                                overl += 1
                    if pairs and overl / pairs >= overlap_threshold:
                        need.append(int(b))
                        reasons.add("zone-overlap")
            if need:
                self.cluster(
                    list(sort_by),
                    target_file_rows=self.target_file_rows,
                    buckets=sorted(need),
                )
                report["clustered_buckets"] = sorted(need)
                report["cluster_reason"] = ",".join(sorted(reasons))

        self.expire_snapshots(keep=keep_snapshots)
        report["snapshots"] = len(self.snapshots())
        report["lineage_compact"] = self.compact_lineage(sidecar_max_files)
        report["exports_compact"] = self.compact_exports(sidecar_max_files)
        # Bloom sidecar upkeep: once a table has opted in (a sidecar
        # exists), keep it current for the SAME columns — build the
        # delta for files written since, and fold small parts
        if os.path.isdir(os.path.join(self.root, "_blooms")):
            from .bloom import _read_sidecar, build_bloom, compact_bloom

            side = _read_sidecar(self)
            if side is not None:
                cur_cols = {f.name for f in (self.schema() or T.StructType())}
                bcols = [
                    r["col"]
                    for r in side.select("col").distinct().collect()
                    if r["col"] in cur_cols  # survive a later drop_column
                ]
                if bcols:
                    report["bloom"] = build_bloom(self, sorted(bcols))
                    report["bloom"]["compact"] = compact_bloom(
                        self, max_files=16
                    )
        return report

    def expire_snapshots(self, keep: int = 3, older_than=None):
        """Drop manifests (and data files unreachable from the kept set) —
        Iceberg expire_snapshots analog; reference analog: retention cleanup
        /root/reference/internal/jobs/server.go:690-727.

        ``keep``: always retain at least the last N chain snapshots.
        ``older_than`` (datetime / ISO string / epoch millis): additionally
        retain every snapshot committed after that instant — the Iceberg
        ``expire_snapshots(older_than=...)`` form; with both set, the kept
        set is the union."""
        snaps = self.snapshots()
        chain_keep = snaps[-keep:] if keep else snaps
        if older_than is not None:
            cut = self._to_millis(older_than)
            newer = [
                m
                for m in snaps
                if int(m["snapshot_id"].split("-", 1)[0]) > cut
            ]
            seen = {m["snapshot_id"] for m in chain_keep}
            chain_keep = [
                m for m in snaps
                if m["snapshot_id"] in seen
                or m["snapshot_id"] in {x["snapshot_id"] for x in newer}
            ]
        keep_m = list(chain_keep)
        # tagged snapshots and branch heads are pinned: their manifest and
        # data files survive expiry until the tag/branch is dropped
        r = self.refs()
        pinned = set(r["tags"].values()) | {
            h for h in r["branches"].values() if h
        }
        for sid in pinned:
            tm = self._read_json(self._manifest_path(sid))
            if tm is not None and sid not in {
                m["snapshot_id"] for m in keep_m
            }:
                keep_m = [tm] + keep_m
        live = {p for m in keep_m for p in self._referenced(m)}
        keep_ids = {m["snapshot_id"] for m in keep_m}
        # sweep EVERY manifest in the dir, not just the main chain:
        # branch intermediates and crashed-commit orphan manifests go too
        # (their files would otherwise dangle after the file sweep below)
        for mp in glob.glob(os.path.join(self.root, "_manifests", "*.json")):
            if os.path.basename(mp)[:-5] not in keep_ids:
                os.remove(mp)
        # re-root the chain (the oldest kept CHAIN member, never a merely
        # tag-pinned manifest — a tag must not rewrite history linkage)
        if chain_keep:
            chain_keep[0]["parent"] = None
            self._atomic_write(
                self._manifest_path(chain_keep[0]["snapshot_id"]),
                json.dumps(chain_keep[0]),
            )
        for f_ in glob.glob(os.path.join(self.root, "data", "snap-*", "bucket=*", "*.parquet")):
            rel = os.path.relpath(f_, self.root)
            if rel not in live:
                os.remove(f_)

    def count_rows(
        self, snapshot_id: str | None = None, include_tombstones: bool = False
    ) -> int:
        """Exact row count from manifest statistics alone whenever the
        metadata supports it (the Iceberg/Delta aggregate-pushdown trick:
        COUNT(*) answered from manifests, zero data I/O). A bucket is
        stats-countable when it has no outstanding MOR logs (read-time
        resolution can shadow rows, and MOR tombstone stats are an upper
        bound) and every one of its files carries ``file_meta`` rows
        (plus ``bucket_meta`` when tombstones must be subtracted).
        Buckets failing those conditions fall back to ONE pruned scan of
        just themselves. At 100 TB the common case — a compacted table —
        is pure JSON arithmetic on the driver."""
        m = self.manifest(snapshot_id)
        if m is None:
            return 0
        fm = m.get("file_meta", {})
        bm = m.get("bucket_meta", {})
        logged = set(self._logged_buckets(m))
        total = 0
        fallback: set[int] = set(logged)
        for b, paths in m["files"].items():
            if int(b) in logged:
                continue
            if not all(p in fm for p in paths):
                fallback.add(int(b))
                continue
            rows = sum(fm[p]["rows"] for p in paths)
            if include_tombstones:
                total += rows
            elif b in bm:
                total += rows - bm[b]["n_tombstones"]
            else:
                fallback.add(int(b))
        if fallback:
            total += self.read(
                snapshot_id,
                include_tombstones=include_tombstones,
                buckets=sorted(fallback),
            ).count()
        return total

    def verify_table(
        self,
        snapshot_id: str | None = None,
        check_rows: bool = False,
        check_routing: bool = False,
    ) -> dict:
        """Integrity audit (fsck; reference analog: the consistency
        checks around sync recovery, /root/reference/internal/jobs/
        server.go — here made a first-class verb). Metadata-only checks:

        * every referenced base/log file exists on disk;
        * every referenced file has zone-map stats (``uncovered_files``
          — a warning: reads stay correct, pruning degrades);
        * the snapshot chain resolves parent-by-parent to its root
          (``broken_chain``) with no cycles;
        * ``applied_epochs`` never regresses along the chain
          (``epoch_regression``) — a regression would re-open an
          exactly-once key.

        ``check_rows`` / ``check_routing`` add ONE shared scan (key
        columns only) that compares per-file parquet row counts against
        ``file_meta`` (``row_mismatch`` — bit-rot / truncated copy
        detection) and re-hashes every key through the table's own
        ``bucket_expr`` to confirm it lives in the bucket directory it
        was filed under (``misrouted`` — a wrong-modulus write would
        make merges silently miss it). Returns ``{"ok": bool, ...}``;
        scan cost ∝ table key columns, metadata cost ∝ manifest JSON."""
        m = self.manifest(snapshot_id)
        out: dict = {
            "ok": True,
            "missing_files": [],
            "uncovered_files": [],
            "broken_chain": [],
            "epoch_regression": [],
            "row_mismatch": [],
            "misrouted": 0,
            "files_checked": 0,
        }
        if m is None:
            return out
        fm = m.get("file_meta", {})
        all_rels = sorted(self._referenced(m))
        out["files_checked"] = len(all_rels)
        for rel in all_rels:
            if not os.path.exists(os.path.join(self.root, rel)):
                out["missing_files"].append(rel)
            if rel not in fm:
                out["uncovered_files"].append(rel)
        # chain walk (snapshot ids embed millis; a cycle would revisit)
        seen, cur = set(), m
        while cur is not None and cur.get("parent"):
            pid = cur["parent"]
            if pid in seen:
                out["broken_chain"].append(f"cycle at {pid}")
                break
            seen.add(pid)
            pm = self._read_json(self._manifest_path(pid))
            if pm is None:
                out["broken_chain"].append(pid)
                break
            if not set(pm.get("applied_epochs", ())) <= set(
                cur.get("applied_epochs", ())
            ):
                # rollback commits revert epochs ON PURPOSE; flag only
                # non-rollback commits
                if not str(cur.get("epoch", "")).startswith("rollback:"):
                    out["epoch_regression"].append(cur["snapshot_id"])
            cur = pm
        if (check_rows or check_routing) and all_rels and not out[
            "missing_files"
        ]:
            schema = T.StructType.fromJson(m["schema"])
            root_abs = os.path.abspath(self.root)
            df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, p) for p in all_rels]
            )
            nb = m.get("n_buckets", self.n_buckets)
            bexpr = F.pmod(
                F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(nb)
            ).cast("int")
            dir_bucket = F.regexp_extract(
                F.input_file_name(), r"bucket=(\d+)", 1
            ).cast("int")
            rows = (
                df.select(
                    F.input_file_name().alias("_f"),
                    (bexpr != dir_bucket).cast("int").alias("_bad"),
                )
                .groupBy("_f")
                .agg(F.count("*").alias("_n"), F.sum("_bad").alias("_mis"))
                .collect()
            )
            for r in rows:
                path = re.sub(r"^file:/*", "/", r["_f"])
                rel = os.path.relpath(path, root_abs)
                if check_rows and rel in fm and fm[rel]["rows"] != r["_n"]:
                    out["row_mismatch"].append(
                        {"file": rel, "meta": fm[rel]["rows"], "actual": r["_n"]}
                    )
                if check_routing:
                    out["misrouted"] += int(r["_mis"] or 0)
        out["ok"] = not (
            out["missing_files"]
            or out["broken_chain"]
            or out["epoch_regression"]
            or out["row_mismatch"]
            or out["misrouted"]
        )
        return out

    def remove_orphan_files(self, older_than_seconds: float = 3600) -> dict:
        """Delete data files referenced by NO manifest (Iceberg
        ``remove_orphan_files`` analog). Orphans come from crashed
        writers: a merge that wrote its ``data/snap-*/`` files but died
        before the pointer swap leaves the files (and possibly a manifest
        never linked into any chain — ``expire_snapshots`` sweeps those).

        ``older_than_seconds`` is the in-flight-writer grace period: a
        file younger than this may belong to a commit still in progress
        (written-then-commit ordering), so it is never touched. Pure
        metadata + filesystem walk — no Spark job; at scale this is a
        listing ∝ file count, parallelizable per bucket dir.

        Returns ``{"removed": [rel...], "kept_recent": n}``."""
        live: set[str] = set()
        for mp in glob.glob(os.path.join(self.root, "_manifests", "*.json")):
            m = self._read_json(mp)
            if m:
                live.update(self._referenced(m))
        cutoff = time.time() - older_than_seconds
        removed, kept_recent = [], 0
        for f_ in glob.glob(
            os.path.join(self.root, "data", "snap-*", "bucket=*", "*.parquet")
        ):
            rel = os.path.relpath(f_, self.root)
            if rel in live:
                continue
            if os.path.getmtime(f_) > cutoff:
                kept_recent += 1
                continue
            os.remove(f_)
            removed.append(rel)
        # drop now-empty snap dirs (pure hygiene; harmless if racing)
        for d in glob.glob(os.path.join(self.root, "data", "snap-*")):
            if not any(os.scandir(d)):
                shutil.rmtree(d, ignore_errors=True)
            else:
                for bd in glob.glob(os.path.join(d, "bucket=*")):
                    if not any(os.scandir(bd)):
                        shutil.rmtree(bd, ignore_errors=True)
                if not any(os.scandir(d)):
                    shutil.rmtree(d, ignore_errors=True)
        return {"removed": sorted(removed), "kept_recent": kept_recent}
