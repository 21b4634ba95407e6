"""The CDC pipeline: changelog -> normalize -> LWW -> MERGE, batch + stream.

Spark restatement of the reference's sync path (SURVEY.md §3.1):

    readStream(changelog)
      -> normalize_events (built-in exprs + Arrow pandas UDF lang-detect)
      -> lww_resolve (the one window resolver; earliest arrival wins a
         tie, so merge-on-read and copy-on-write tables agree)
      -> foreachBatch: ManifestTable.merge (epoch-tagged exactly-once commit)
      -> lineage row per micro-batch partition

foreachBatch is at-least-once; exactly-once comes from the sink's
(checkpoint_id, batch_id) epoch ledger + the monotone (commit_seq, commit,
op) merge condition — a replayed batch commits nothing (SURVEY.md §7.3 #1).
"""

from __future__ import annotations

import hashlib
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ..functions.normalize import (
    enrich_events,
    normalize_events,
    reject_events,
    validate_events,
)
from ..operators.lww import lww_resolve, lww_resolve_partial
from ..sinks.manifest_table import ManifestTable

logger = logging.getLogger("vuln_datasync_spark.streaming")


def _resolve_lww_mode(events: DataFrame, mode: str) -> str:
    """Always ``"window"``, the one resolver. Kept only because
    perfbench's traced run imports it; the next benchmark revision drops
    that import and this function."""
    return "window"


def apply_batch(
    events: DataFrame,
    table: ManifestTable,
    checkpoint_id: str = "adhoc",
    batch_id: int = 0,
    partial_update: bool = False,
    dlq_dir: str | None = None,
    contract_rules: list[dict] | None = None,
    contract_mode: str = "reject",
) -> dict | None:
    """Apply one changelog batch to the table; returns the lineage record.

    The source offset range (min/max commit_seq) is captured with
    ``DataFrame.observe`` during the merge's own jobs — no extra scan.

    LWW runs through the one window resolver (``lww_resolve``); an exact
    tie inside the batch resolves on a content hash, and against the
    stored table the earliest arrival wins (operators/lww.py).

    ``partial_update``: sparse CDC events — null payload columns mean
    "unchanged" and coalesce against the stored row (and against earlier
    events in the same batch); see ``lww_resolve_partial``.

    ``dlq_dir``: dead-letter queue. Events failing validation (missing
    key / bad op / missing commit_seq — the rows ``normalize_events``
    silently drops) are written as parquet under
    ``{dlq_dir}/{checkpoint_id}_{batch_id}/`` with a ``reject_reason``
    column. The epoch-named dir is written with overwrite, so an
    at-least-once replay of the batch rewrites the same rejects instead
    of duplicating them — DLQ idempotence matches the sink's
    exactly-once. Reference analog: per-record validation skip +
    error accounting, /root/reference/internal/handlers/gitlab/
    fetcher.go record-skip path.

    ``contract_rules``: declarative data contract enforced on the batch
    BEFORE normalization (operators/quality_rules.py rule dicts).
    ``contract_mode='reject'`` routes each violating row to the DLQ
    (row-level kinds only — not_null/in_set/range/regex — since a
    per-row verdict is what routing needs; requires ``dlq_dir``) with a
    ``contract_reason`` naming the first rule it broke; replays
    overwrite the same epoch-named dir, keeping DLQ idempotence.
    ``contract_mode='fail'`` aborts the batch on ANY violated rule
    (set-level kinds allowed) — the stop-the-line form for pipelines
    where a contract breach means upstream corruption, not bad rows."""
    if contract_rules:
        from ..operators.quality_rules import (
            _ROW_KINDS,
            _row_violation,
            assert_rules,
        )

        if contract_mode == "fail":
            assert_rules(events, contract_rules)
        elif contract_mode == "reject":
            if dlq_dir is None:
                raise ValueError("contract_mode='reject' requires dlq_dir")
            bad_kinds = [
                r["kind"] for r in contract_rules
                if r["kind"] not in _ROW_KINDS
            ]
            if bad_kinds:
                raise ValueError(
                    "contract_mode='reject' takes row-level rules only; "
                    f"got {bad_kinds} (use contract_mode='fail')"
                )
            reason = F.lit(None).cast("string")
            keep = F.lit(True)
            for r in reversed(contract_rules):
                name = r.get("name") or f'{r["kind"]}:{r["col"]}'
                v = _row_violation(r)
                reason = F.when(v, F.lit(name)).otherwise(reason)
                keep = keep & ~v
            events.filter(~keep).withColumn(
                "contract_reason", reason
            ).write.mode("overwrite").parquet(
                os.path.join(
                    dlq_dir, f"{checkpoint_id}_{batch_id}_contract"
                )
            )
            events = events.filter(keep)
        else:
            raise ValueError(f"unknown contract_mode: {contract_mode}")
    if dlq_dir is not None:
        rejects = reject_events(events)
        rejects.write.mode("overwrite").parquet(
            os.path.join(dlq_dir, f"{checkpoint_id}_{batch_id}")
        )
    obs = Observation()
    if partial_update:
        # partial semantics fill lang/sha per EVENT before the reduce
        # (a sniffed lang is a real value for the latest-non-null fill),
        # so the full normalize stays pre-reduce here
        ev = normalize_events(events).observe(
            obs,
            F.min("commit_seq").alias("seq_start"),
            F.max("commit_seq").alias("seq_end"),
        )
        winners = lww_resolve_partial(ev)
    else:
        # validate pre-reduce (an invalid row must not beat a valid one),
        # enrich POST-reduce: the lang sniff's Arrow round trip and the
        # sha256 run once per key instead of once per event, and the
        # 64-char sha column never rides the LWW shuffle
        ev = validate_events(events).observe(
            obs,
            F.min("commit_seq").alias("seq_start"),
            F.max("commit_seq").alias("seq_end"),
        )
        winners = enrich_events(lww_resolve(ev))

    def seq_range():
        try:
            m = obs.get
            return (m["seq_start"], m["seq_end"])
        except Exception:
            # empty batch: Catalyst prunes the observe node entirely
            return (None, None)

    lineage = table.merge(
        winners,
        checkpoint_id=checkpoint_id,
        batch_id=batch_id,
        seq_range=seq_range,
        partial_update=partial_update,
    )
    return lineage


def checkpoint_identity(checkpoint_dir: str) -> str:
    """Stable id for a checkpoint location — ties sink epochs to the stream's
    offset WAL so a restarted query keeps deduplicating its own batch ids."""
    return hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:16]


def install_graceful_stop(query) -> dict:
    """SIGINT/SIGTERM → ``query.stop()`` so a long-lived tail drains the
    in-flight micro-batch and exits with a clean checkpoint instead of a
    killed JVM (reference analog: signal.Notify + 30s shutdown window,
    /root/reference/cmd/vuln-datasync/main.go:101-120). The stop runs on a
    daemon thread — py4j calls must not run inside the signal frame.
    Returns a dict whose 'signal' key records the delivered signal (None if
    the stream ended on its own). The sink's epoch tagging makes a batch
    interrupted mid-merge safe: it either committed (replay skipped on
    resume) or it didn't (re-run on resume).

    CPython only allows signal handler installation on the MAIN thread —
    called from anywhere else (embedded/library callers, notebook
    executors) this warns, marks ``state['installed'] = False`` and
    installs nothing rather than raising ValueError. The host's previous
    handlers are saved, CHAINED after the stop is scheduled (a host that
    also wants the signal still sees it), and restorable via
    ``state['restore']()`` — ``run_stream`` restores them once the query
    terminates, so a library call doesn't permanently hijack the
    process's signal disposition."""
    import signal
    import threading

    state: dict = {"signal": None, "installed": False, "restore": lambda: None}
    if threading.current_thread() is not threading.main_thread():
        logger.warning(
            "install_graceful_stop: not on the main thread — signal "
            "handlers cannot be installed; stream will not drain on "
            "SIGINT/SIGTERM"
        )
        return state

    previous = {
        s: signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)
    }

    def _handler(signum, frame):
        state["signal"] = signum

        def _stop():
            try:
                query.stop()
            except Exception:  # stream already gone — exit path anyway
                pass

        threading.Thread(target=_stop, daemon=True).start()
        prev = previous.get(signum)
        # chain a host-installed handler; NOT Python's default SIGINT
        # handler — that raises KeyboardInterrupt and would abort the
        # drain this handler exists to provide
        if callable(prev) and prev is not signal.default_int_handler:
            prev(signum, frame)

    def _restore():
        if not state["installed"]:
            return
        for s, h in previous.items():
            if signal.getsignal(s) is _handler:
                signal.signal(s, h)
        state["installed"] = False

    for s in previous:
        signal.signal(s, _handler)
    state["installed"] = True
    state["restore"] = _restore
    return state


def run_stream(
    spark: SparkSession,
    changelog_dir: str,
    table_root: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
    on_batch=None,
    processing_time: str | None = None,
    await_termination: bool = True,
    graceful_stop: bool = False,
    partial_update: bool = False,
    dlq_dir: str | None = None,
    branch: str | None = None,
    contract_rules: list[dict] | None = None,
    contract_mode: str = "reject",
    pool: str | None = None,
    envelope_format: str | None = None,
    envelope_dlq_dir: str | None = None,
):
    """Tail a changelog directory (file source stands in for the Iceberg/
    Kafka changelog; offsets live in the Structured Streaming checkpoint)
    and merge every micro-batch into the ManifestTable at ``table_root``.

    ``envelope_format='debezium'|'maxwell'``: the directory holds raw
    WAL/binlog envelope JSON (one per line — the shape a Kafka topic dump
    has) instead of canonical parquet; each micro-batch is parsed with
    sources/debezium.py before the merge, ``schema`` is ignored, and
    malformed envelopes land in ``envelope_dlq_dir`` under an
    epoch-named dir written with overwrite (at-least-once replays
    rewrite the same rejects — DLQ idempotence matches the sink's
    exactly-once, same convention as ``dlq_dir``).

    ``trigger(availableNow=True)`` drains everything currently available and
    stops — resumable: a later call with the same checkpoint continues from
    the recorded offsets (reference analog: incremental sync `since`,
    /root/reference/sql/vulnerabilities.sql:128-132).

    ``on_batch(batch_id, lineage)`` is a test hook (e.g. simulate a crash
    between sink commit and checkpoint commit).

    ``pool``: route this stream's micro-batch jobs to a weighted FAIR
    scheduler pool (full/incremental/export, weights 6/3/1 — the
    reference's Asynq queue priorities, internal/jobs/server.go:64-79).
    The session must be built with ``get_spark(fair_pools=True)``; each
    foreachBatch invocation re-asserts the pool on its own thread, since
    Spark resolves pools from a thread-local property.
    """
    if os.path.exists(os.path.join(table_root, "_table.json")):
        table = ManifestTable(spark, table_root)
    else:
        table = ManifestTable.create(spark, table_root)
    if branch is not None:
        # stream into a branch (WAP for streams): micro-batches advance
        # the branch ref; audit + publish when the tail looks right
        if branch not in table.refs()["branches"]:
            table.create_branch(branch)
        table = table.for_branch(branch)
    ckpt_id = checkpoint_identity(checkpoint_dir)

    if envelope_format not in (None, "debezium", "maxwell"):
        raise ValueError(f"unknown envelope format: {envelope_format}")
    if envelope_format is not None:
        reader = spark.readStream
        if max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_trigger
            )
        stream = reader.text(changelog_dir)
    else:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_trigger
            )
        stream = reader.parquet(changelog_dir)

    def process(batch_df: DataFrame, batch_id: int):
        if pool is not None:
            from ..session import set_job_pool

            set_job_pool(spark, pool)
        if envelope_format is not None:
            from ..sources.debezium import parse_debezium, parse_maxwell

            parse = (
                parse_debezium
                if envelope_format == "debezium"
                else parse_maxwell
            )
            parsed = parse(batch_df, "value", keep_raw=True)
            if envelope_dlq_dir:
                parsed.filter(F.col("_parse_error").isNotNull()).select(
                    F.col("_raw").alias("value"), "_parse_error"
                ).write.mode("overwrite").parquet(
                    os.path.join(
                        envelope_dlq_dir, f"{ckpt_id}_{batch_id}"
                    )
                )
            batch_df = parsed.filter(
                F.col("_parse_error").isNull()
            ).drop("_parse_error", "_raw")
        lineage = apply_batch(
            batch_df,
            table,
            checkpoint_id=ckpt_id,
            batch_id=batch_id,
            partial_update=partial_update,
            dlq_dir=dlq_dir,
            contract_rules=contract_rules,
            contract_mode=contract_mode,
        )
        if on_batch is not None:
            on_batch(batch_id, lineage)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is not None:
        # long-lived tail (reference analog: SYNC_INTERVAL scheduling,
        # /root/reference/internal/config/config.go:105-108)
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    stop_state = None
    if graceful_stop:
        # install BEFORE any early return: a caller managing the query
        # object itself still asked for signal-drain semantics
        stop_state = install_graceful_stop(query)
    if not await_termination:
        return table, query
    try:
        query.awaitTermination()
    finally:
        if stop_state is not None:
            stop_state["restore"]()
    return table
