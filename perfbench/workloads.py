"""The benchmark's workloads.

Each workload writes a ``ManifestTable`` through the package's public API,
then reads it back; the reads double as the correctness gate.

* ``bulk_backfill`` — ``streaming.apply_batch`` of the whole bulk log, one
  call, into an empty table: the source scan, the LWW reduce and the
  post-reduce ``enrich_events`` (Arrow lang sniff, sha256) do the work; the
  sink takes its bulk-append path and never reads a target. Repeated into
  fresh tables for ``--seconds``.
* ``stream_upsert`` — a table preloaded from the bulk log during set-up,
  then ``streaming.run_stream(max_files_per_trigger=1)`` with the
  availableNow trigger drains the tail change files through a fresh
  checkpoint. LWW and normalize see a few thousand events; the
  copy-on-write target read, bucket rewrite, manifest commit and the
  per-trigger offset/WAL work dominate. Repeated on fresh copies of the
  preloaded table for ``--seconds``.

Both then read the table they built: single-key ``lookup`` on hot, cold
and absent keys, full ``read()`` scans, and ``read_changes`` over the last
commits. Every loop is closed
with one client: each call starts when the previous one has returned.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import gen
import oracle
from spans import tree_cpu_seconds

# ``gen`` is the generator spec; the write phase (``focus``) repeats for
# --seconds and at least ``min_reps`` times
WORKLOADS = {
    "bulk_backfill": {
        "focus": "backfill",
        "gen": dict(key_space=48_000, base_events=180_000, zipf_s=0.8,
                    base_files=8, ooo_window=500, tail_files=1,
                    tail_events=400, tail_insert_share=0.2,
                    tail_new_keys=1_000),
        "n_buckets": 16,
        "min_reps": 2,
    },
    "stream_upsert": {
        "focus": "stream",
        "gen": dict(key_space=30_000, base_events=45_000, zipf_s=0.8,
                    base_files=4, ooo_window=500, tail_files=3,
                    tail_events=2_000, tail_insert_share=0.2,
                    tail_new_keys=4_000),
        "n_buckets": 16,
        "min_reps": 1,
    },
}
# the read phase: single-key lookups of these kinds, then full scans, then
# change-feed reads
LOOKUPS = ("hot", "cold", "absent")
SCANS = 5
CHANGEFEEDS = 2


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples beyond). Under 20 samples no percentile
    at or above the median qualifies; the maximum is reported then."""
    s = sorted(samples)
    k = len(s) - 10
    if k >= (len(s) + 1) // 2:
        return s[k - 1], 100.0 * k / len(s), 10
    return s[-1], 100.0, 0


def ungated(s: dict) -> dict:
    """Figures a run reports but does not gate: name -> (value, unit,
    note). Wall clock moves with hypervisor steal, and the read calls'
    CPU with the host's load, by more than a bound can allow."""
    med = statistics.median
    out = {
        "events_per_s": (med(s["events_per_s"]), "events/s", "wall clock"),
        "batch_p50_s": (med(s["batch_s"]), "s", "wall clock"),
        "lookup_p50_ms": (med(s["lookup_ms"]), "ms", "wall clock"),
        "scan_s": (med(s["scan_s"]), "s", "wall clock"),
        "changefeed_s": (med(s["changefeed_s"]), "s", "wall clock"),
        "lookup_cpu_ms": (med(s["lookup_cpu_ms"]), "ms", "CPU"),
        "scan_cpu_s": (med(s["scan_cpu_s"]), "s", "CPU"),
        "changefeed_cpu_s": (med(s["changefeed_cpu_s"]), "s", "CPU"),
        "write_jit_cpu_s": (med(s["write_jit_cpu_s"]), "s",
                            "JIT compiler CPU of a write pass, left out "
                            "of events_per_cpu_s"),
    }
    for key, name, unit in (("batch_s", "batch_tail_s", "s"),
                            ("lookup_ms", "lookup_tail_ms", "ms")):
        v, pct, beyond = tail(s[key])
        out[name] = (v, unit, f"wall clock; p{pct:.0f} of {len(s[key])} "
                              f"samples, {beyond} beyond")
    return out


def data_bytes(table_root: str) -> int:
    """Bytes of the table's data files (all snapshots)."""
    return sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(table_root, "data", "*", "*", "*.parquet")))


def dir_bytes(d: str) -> int:
    return sum(os.path.getsize(p)
               for p in glob.glob(os.path.join(d, "*.parquet")))


class Workload:
    """One run of one workload: the session handle, the inputs, the run's
    scratch directory, and every sample and check made."""

    def __init__(self, spark, tracer, name: str, inputs: str, work: str,
                 seconds: float):
        from vuln_datasync_spark.sources.changelog import CHANGELOG_DDL

        self.spark, self.tr, self.name = spark, tracer, name
        self.cfg = WORKLOADS[name]
        self.streams = self.cfg["focus"] == "stream"
        self.inputs, self.work, self.seconds = inputs, work, seconds
        self.ddl = CHANGELOG_DDL
        self.base_dir = os.path.join(inputs, "base")
        self.tail_dir = os.path.join(inputs, "tail")
        self.tail_files = sorted(
            glob.glob(os.path.join(self.tail_dir, "*.parquet")))
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.n_tables = 0
        self.notes: list[str] = []

    # ---------- helpers ----------

    def new_path(self, kind: str) -> str:
        self.n_tables += 1
        return os.path.join(self.work, f"{kind}-{self.n_tables}")

    def sample(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(v)

    def check(self, what: str, bad: int, n: int = 1) -> None:
        """Count ``n`` attempted operations or rows, ``bad`` of them
        failed or wrong (a row comparison can find more wrong rows than
        expected ones; it counts at most ``n``)."""
        bad = min(bad, n)
        self.attempted += n
        self.failed += bad
        if bad:
            self.notes.append(f"MISMATCH {what}: {bad} of {n}")

    @contextlib.contextmanager
    def measure(self, span: str, **attrs):
        """Span around the block; fills the yielded dict with its wall
        seconds and the CPU seconds of this process, the JVM and its
        Python workers, JIT compilation (``jit``) apart from the rest
        (``cpu``)."""
        out: dict = {}
        with self.tr.span(span, **attrs):
            (c, j), s = tree_cpu_seconds(os.getpid()), time.perf_counter()
            yield out
            out["wall"] = time.perf_counter() - s
            c2, j2 = tree_cpu_seconds(os.getpid())
            out["cpu"], out["jit"] = c2 - c, j2 - j

    def _again(self, t0: float, done: int) -> bool:
        return (done < self.cfg["min_reps"]
                or time.perf_counter() - t0 < self.seconds)

    def table(self, root: str):
        from vuln_datasync_spark.sinks import ManifestTable

        return ManifestTable(self.spark, root)

    def drain(self, src: str, root: str, ckpt: str, on_batch=None):
        """One availableNow drain of ``src`` into the table at ``root``;
        returns the finished query."""
        from vuln_datasync_spark.streaming import run_stream

        _, q = run_stream(self.spark, src, root, ckpt, self.ddl,
                          max_files_per_trigger=1, on_batch=on_batch,
                          await_termination=False)
        q.awaitTermination()
        return q

    # ---------- oracle ----------

    def prepare_oracle(self) -> None:
        """The state the run must end in, the change feed it must report,
        and the keys it looks up."""
        import pyarrow.parquet as pq

        tb = oracle.load_truth(os.path.join(self.inputs, "truth-base.parquet"))
        tt = oracle.load_truth(os.path.join(self.inputs, "truth-tail.parquet"))
        base = oracle.lww_state(tb)
        if self.streams:
            # state after each tail file, in arrival order
            states, arrived = [base], set()
            for f in self.tail_files:
                seqs = pq.read_table(f, columns=["commit_seq"]).column(0)
                arrived.update(seqs.to_pylist())
                states.append(oracle.lww_state(
                    pd.concat([tb, tt[tt["commit_seq"].isin(arrived)]])))
            # the feed covers the last two commits
            self.changes_from = len(states) - 3
            self.want_changes = oracle.expected_changes(states[-3],
                                                        states[-1])
            final, events = states[-1], pd.concat([tb, tt])
        else:
            self.changes_from = None  # the whole table, as inserts
            self.want_changes = oracle.expected_changes(base.iloc[:0], base)
            final, events = base, tb
        self.live_base = oracle.live_rows(base)
        self.live = oracle.live_rows(final)
        # hot: live keys with the most events; cold: live keys written
        # once; absent: key indices the generator never draws
        counts = events.groupby(oracle.KEY).size()
        live = set(zip(self.live["repo"], self.live["path"]))
        ranked = [k for k in counts.sort_values(ascending=False).index
                  if k in live]
        once = [k for k in counts[counts == 1].index if k in live]
        spec = self.cfg["gen"]
        first_absent = spec["key_space"] + spec["tail_new_keys"]
        self.key_pool = {
            "hot": ranked[:16],
            "cold": once[:: max(1, len(once) // 64)][:64],
            "absent": list(zip(*gen.key_strings(
                np.arange(first_absent, first_absent + 64)))),
        }
        self.n_base_events = sum(
            pq.read_metadata(p).num_rows
            for p in glob.glob(os.path.join(self.base_dir, "*.parquet")))

    # ---------- set-up ----------

    def warm_up(self, preloaded: str | None) -> None:
        """Untimed pass over the code paths the run times, so that JIT,
        codegen caches and Python workers are warm first. The backfill
        applies its whole log once: after an apply of the small ``warm/``
        log alone, the first full-size apply still used clearly more CPU
        than the next. The stream workload's preload has already run the bulk
        path at full size; it drains the ``warm/`` tail file into a copy
        of the preloaded table (one copy-on-write trigger)."""
        from vuln_datasync_spark.sinks import ManifestTable
        from vuln_datasync_spark.streaming import apply_batch
        from vuln_datasync_spark.sources.changelog import read_changelog_batch

        root = self.new_path("warm")
        if preloaded is not None:
            shutil.copytree(preloaded, root)
            self.drain(os.path.join(self.inputs, "warm", "tail"), root,
                       root + "-ckpt")
        else:
            t = ManifestTable.create(self.spark, root,
                                     n_buckets=self.cfg["n_buckets"])
            apply_batch(read_changelog_batch(self.spark, self.base_dir),
                        t, "warm", 0)
        t = self.table(root)
        t.lookup([self.key_pool["hot"][0]]).collect()
        t.read().write.format("noop").mode("overwrite").save()
        sids = [s["snapshot_id"] for s in t.snapshots()]
        t.read_changes(sids[-2] if len(sids) > 1 else None).collect()

    def preload(self) -> str:
        """The table the stream workload drains into: the bulk log applied
        by one ``apply_batch`` call."""
        root = self.new_path("preload")
        self.apply_base(root, "preload")
        self.check_table(root, self.live_base, "preloaded table rows")
        return root

    # ---------- timed phases ----------

    def apply_base(self, root: str, checkpoint_id: str,
                   log: str | None = None) -> dict:
        """One ``apply_batch`` of the bulk log (or of ``log``) into a new
        empty table; returns its wall and CPU seconds."""
        from vuln_datasync_spark.sinks import ManifestTable
        from vuln_datasync_spark.streaming import apply_batch
        from vuln_datasync_spark.sources.changelog import read_changelog_batch

        table = ManifestTable.create(self.spark, root,
                                     n_buckets=self.cfg["n_buckets"])
        with self.measure("apply_batch") as took:
            apply_batch(read_changelog_batch(self.spark, log or self.base_dir),
                        table, checkpoint_id, 0)
        return took

    def backfill(self) -> str:
        """Backfills into fresh empty tables for --seconds; returns the
        last table."""
        t0 = time.perf_counter()
        done, root = 0, None
        while self._again(t0, done):
            root = self.new_path("backfill")
            try:
                took = self.apply_base(root, "backfill")
            except Exception as e:  # noqa: BLE001 - counted as a failed batch
                self.check("backfill batch", 1)
                self.notes.append(f"backfill failed: {e!r}")
            else:
                self.check("backfill batch", 0)
                self.sample("batch_s", took["wall"])
                self.sample("events_per_s", self.n_base_events / took["wall"])
                self.sample("events_per_cpu_s",
                            self.n_base_events / took["cpu"])
                self.sample("write_jit_cpu_s", took["jit"])
                self.sample("written", data_bytes(root))
            done += 1
        self.bytes_in = dir_bytes(self.base_dir)
        return root

    def stream(self, template: str) -> str:
        """Drains of the tail files into fresh copies of ``template`` for
        --seconds; returns the last drained table."""
        t0 = time.perf_counter()
        done, root = 0, None
        while self._again(t0, done):
            root = self.new_path("stream")
            shutil.copytree(template, root)
            before = data_bytes(root)
            ckpt = root + "-ckpt"
            with self.measure("drain") as took:
                try:
                    q = self.drain(self.tail_dir, root, ckpt)
                    err = None
                except Exception as e:  # noqa: BLE001 - counted below
                    q, err = None, e
            progress = ([p for p in q.recentProgress if p["numInputRows"] > 0]
                        if q is not None else [])
            n = len(self.tail_files)
            self.check("drain batches", n - len(progress), n)
            if err is not None:
                self.notes.append(f"drain failed: {err!r}")
                done += 1
                continue
            events = sum(p["numInputRows"] for p in progress)
            self.sample("events_per_s", events / took["wall"])
            self.sample("events_per_cpu_s", events / took["cpu"])
            self.sample("write_jit_cpu_s", took["jit"])
            for p in progress:
                d = p["durationMs"]
                self.sample("batch_s", d["triggerExecution"] / 1000)
                for k in ("addBatch", "walCommit", "commitOffsets",
                          "latestOffset", "queryPlanning"):
                    self.sample(f"streaming.{k}", d.get(k, 0))
            self.sample("written", data_bytes(root) - before)
            done += 1
        self.bytes_in = dir_bytes(self.tail_dir)
        self.exactly_once_probe(root, ckpt)
        return root

    def exactly_once_probe(self, root: str, ckpt: str) -> None:
        """Replay the last batch into the sink and require that it commits
        nothing. Removing the checkpoint's last ``commits/<n>`` entry makes
        the next drain re-run batch ``n`` from the offset log, with the
        same batch id, through ``apply_batch``; the sink's epoch ledger
        must skip it (``merge`` returns no lineage) and leave the current
        snapshot as it was. The final table check then runs on this
        table."""
        commits = os.path.join(ckpt, "commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        for f in (str(last), f".{last}.crc"):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(commits, f))
        sid = self.table(root).current_snapshot_id()
        replayed = []
        self.drain(self.tail_dir, root, ckpt,
                   on_batch=lambda b, lineage: replayed.append((b, lineage)))
        self.check("exactly-once replay reached the sink",
                   int([b for b, _ in replayed] != [last]))
        self.check("exactly-once replay committed nothing",
                   int(any(lin is not None for _, lin in replayed)
                       or self.table(root).current_snapshot_id() != sid))

    def write_amp(self) -> float:
        """Table data bytes one write pass makes, over the bytes of the
        change events it consumes (median over passes)."""
        return statistics.median(self.samples["written"]) / self.bytes_in

    def reads(self, root: str) -> None:
        t = self.table(root)
        sids = [s["snapshot_id"] for s in t.snapshots()]
        from_sid = (sids[self.changes_from]
                    if self.changes_from is not None else None)
        cursor = dict.fromkeys(self.key_pool, 0)
        for kind in LOOKUPS:
            key = self.key_pool[kind][cursor[kind]]
            cursor[kind] += 1
            with self.measure("lookup", kind=kind) as took:
                rows = t.lookup([key]).collect()
            self.sample("lookup_ms", took["wall"] * 1000)
            self.sample("lookup_cpu_ms", took["cpu"] * 1000)
            self.check(f"lookup {kind}",
                       oracle.lookup_mismatches(self.live, [key], rows))
        # a scan is short next to the JVM's background CPU, so the scans'
        # CPU is taken over the whole group
        with self.measure("scan") as group:
            for _ in range(SCANS):
                s = time.perf_counter()
                t.read().write.format("noop").mode("overwrite").save()
                self.sample("scan_s", time.perf_counter() - s)
        self.sample("scan_cpu_s", group["cpu"] / SCANS)
        for _ in range(CHANGEFEEDS):
            with self.measure("read_changes") as took:
                rows = t.read_changes(from_sid, sids[-1]).collect()
            self.sample("changefeed_s", took["wall"])
            self.sample("changefeed_cpu_s", took["cpu"])
            self.check("change feed rows",
                       oracle.change_mismatches(self.want_changes, rows),
                       max(1, len(self.want_changes)))

    def check_table(self, root: str, live: pd.DataFrame, what: str) -> None:
        """Row equality of a whole table with an oracle state."""
        got = oracle.table_rows(self.table(root).read())
        self.check(what, oracle.count_mismatches(live, got),
                   max(1, len(live)))
