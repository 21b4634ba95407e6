"""Per-layer metrics for the traced run (``--trace 1``).

After the workload's own phases have run with spans on, each layer is
timed in isolation on the workload's unit of work (the whole bulk log for
``bulk_backfill``, one tail file merged into a copy of the preloaded table
for ``stream_upsert``), each call into a noop sink or a fresh table:

    sources.read  -> normalize.validate -> lww.resolve -> normalize.enrich
                  -> sinks.merge

Their sum is reported next to the whole ``apply_batch`` time. Then an
untraced and a traced ``apply_batch`` of the bulk log, back to back, give
the tracing overhead; an apply of the small warm-up log beside the full
one gives the share of an apply that does not grow with its size; and the
same call after restarting Spark at ``local[1]`` gives the
single-threaded baseline.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import gen
from spans import EXEC_FIELDS
from workloads import data_bytes, dir_bytes, ungated

_STREAM_KEYS = {"addBatch": "add_batch_ms", "walCommit": "wal_commit_ms",
                "commitOffsets": "commit_offsets_ms",
                "latestOffset": "latest_offset_ms",
                "queryPlanning": "planning_ms"}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def isolated(w, tr, template: str) -> dict:
    """Each layer of one ``apply_batch`` timed on its own."""
    from pyspark.sql import functions as F
    from vuln_datasync_spark.functions.normalize import (
        enrich_events, validate_events)
    from vuln_datasync_spark.operators.lww import lww_resolve
    from vuln_datasync_spark.sinks import ManifestTable
    from vuln_datasync_spark.sources.changelog import read_changelog_batch
    from vuln_datasync_spark.streaming.pipeline import _resolve_lww_mode

    spark = w.spark
    if w.streams:
        unit = w.tail_files[0]
        in_bytes = os.path.getsize(unit)
        root = w.new_path("isolated")
        shutil.copytree(template, root)
    else:
        unit = w.base_dir
        in_bytes = dir_bytes(unit)
        root = w.new_path("isolated")
        ManifestTable.create(spark, root, n_buckets=w.cfg["n_buckets"])
    m = {"sources.input_bytes": in_bytes}

    def span(name, fn):
        with tr.span(name):
            s = time.perf_counter()
            out = fn()
            m[name + "_s"] = time.perf_counter() - s
        return out

    events = read_changelog_batch(spark, unit)
    span("sources.read", lambda: _noop(events))
    span("normalize.validate", lambda: _noop(validate_events(events)))
    mode = _resolve_lww_mode(events, "auto")
    span("lww.resolve",
         lambda: _noop(lww_resolve(validate_events(events), mode=mode)))
    m["lww.shuffle_bytes"] = tr.spans[-1]["spark"]["shuffle_write_bytes"]
    winners = lww_resolve(validate_events(events), mode=mode).persist()
    n_win = winners.count()
    m["lww.reduce_ratio"] = n_win / events.count()
    span("normalize.enrich", lambda: _noop(enrich_events(winners)))
    ext = F.lower(F.element_at(F.split("path", "\\."), -1))
    m["normalize.sniff_rows"] = winners.filter(
        F.col("lang").isNull() & (F.col("op") != "delete")
        & ext.isin(*gen.UNMAPPED_EXTS)).count()
    enriched = enrich_events(winners).persist()
    enriched.count()
    table = ManifestTable(spark, root)
    before = data_bytes(root)
    lin = span("sinks.merge",
               lambda: table.merge(enriched, "isolated", 0))
    winners.unpersist()
    enriched.unpersist()
    sid = lin["snapshot_id"]
    m["sinks.bytes_written"] = data_bytes(root) - before
    m["sinks.buckets_touched"] = len(lin["buckets"])
    rows = sum(pq.read_metadata(f).num_rows for f in glob.glob(
        os.path.join(root, "data", f"snap-{sid}", "*", "*.parquet")))
    m["sinks.rewrite_ratio"] = rows / max(1, lin["rows_applied"])
    m["apply_batch.layer_sum_s"] = sum(
        m[k] for k in ("sources.read_s", "normalize.validate_s",
                       "lww.resolve_s", "normalize.enrich_s", "sinks.merge_s"))
    return m


def per_layer(w, tr, session_s: float, inputs: dict, template: str | None,
              out_dir: str, start_session, stop_session) -> dict:
    """Every per-layer metric; stops the session it was given."""
    s = w.samples
    m = {"session.get_spark_s": session_s, "datagen.gen_s": inputs["gen_s"]}
    write_span = "drain" if w.streams else "apply_batch"
    for k in EXEC_FIELDS:
        m[f"spark.write.{k}"] = tr.total(write_span, k)
        m[f"spark.reads.{k}"] = sum(
            tr.total(n, k) for n in ("lookup", "scan", "read_changes"))
    m["apply_batch.total_s"] = (
        statistics.median(s["streaming.addBatch"]) / 1000 if w.streams
        else statistics.median(s["batch_s"]))
    figures = {k: v for k, (v, _, _) in ungated(s).items()}
    m["sinks.lookup_ms"] = figures.pop("lookup_p50_ms")
    m["sinks.read_s"] = figures.pop("scan_s")
    m["sinks.read_changes_s"] = figures.pop("changefeed_s")
    m.update(figures)
    if not w.streams:
        # the stream layer's numbers come from one drain of the tail file
        # into a copy of the backfilled table
        template = w.new_path("drain-template")
        w.apply_base(template, "trace")
        root = w.new_path("trace-drain")
        shutil.copytree(template, root)
        q = w.drain(w.tail_dir, root, root + "-ckpt")
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                for k in _STREAM_KEYS:
                    w.sample(f"streaming.{k}", p["durationMs"].get(k, 0))
    for k, name in _STREAM_KEYS.items():
        m[f"streaming.{name}"] = statistics.median(s[f"streaming.{k}"])
    m.update(isolated(w, tr, template))

    # tracing overhead: the same bulk apply with spans off, then on
    tr.enabled = False
    untraced = w.apply_base(w.new_path("untraced"), "untraced")
    tr.enabled = True
    traced = w.apply_base(w.new_path("traced"), "traced")
    tr.enabled = False
    m["trace.overhead_pct"] = (
        100.0 * (traced["wall"] - untraced["wall"]) / untraced["wall"])
    m["scaling.local4_eps"] = w.n_base_events / untraced["wall"]

    # the share of one bulk apply that does not grow with its size: a line
    # through an apply of the small warm-up log and the full one, taken at
    # zero events, over the full apply
    warm = os.path.join(w.inputs, "warm", "base")
    n_small = sum(pq.read_metadata(f).num_rows
                  for f in glob.glob(os.path.join(warm, "*.parquet")))
    small = w.apply_base(w.new_path("small"), "small", warm)
    for k in ("wall", "cpu"):
        per_event = ((untraced[k] - small[k])
                     / (w.n_base_events - n_small))
        m[f"apply_batch.fixed_{k}_share"] = (
            (untraced[k] - per_event * w.n_base_events) / untraced[k])

    os.makedirs(out_dir, exist_ok=True)
    tr.write(os.path.join(out_dir, f"{w.name}-{tr.run_id}.jsonl"))
    self_times = sorted(tr.self_times().items(), key=lambda kv: -kv[1])
    w.notes.append("self seconds: " + " ".join(
        f"{k}={v:.2f}" for k, v in self_times))

    # single-threaded baseline: a new context at local[1] in the same JVM
    # (JIT and codegen caches stay warm; one small apply starts the new
    # Python workers). PySpark logs a failed Python-accumulator update per
    # task after a context restart in one process; the package uses no
    # Python accumulators, so the new context logs only fatal errors.
    w.spark.stop()
    w.spark = start_session("local[1]")
    w.spark.sparkContext.setLogLevel("FATAL")
    try:
        w.apply_base(w.new_path("local1-warm"), "local1-warm",
                     os.path.join(w.inputs, "warm", "base"))
        el = w.apply_base(w.new_path("local1"), "local1")["wall"]
    finally:
        stop_session(w.spark)
    m["scaling.local1_eps"] = w.n_base_events / el
    m["scaling.speedup"] = m["scaling.local4_eps"] / m["scaling.local1_eps"]
    return m
