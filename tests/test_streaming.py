"""Structured Streaming pipeline: drain, resume-from-checkpoint, and
exactly-once under a crash between sink commit and checkpoint commit
(SURVEY.md §2.10, §7.3 #1)."""

import pytest

from vuln_datasync_spark.datagen import generate_changelog_pandas, write_changelog
from vuln_datasync_spark.streaming.pipeline import run_stream

from .test_cdc_e2e import CHANGELOG_SCHEMA, assert_state_matches


def test_stream_availablenow_matches_oracle(spark, tmp_path):
    ev = generate_changelog_pandas(5000, seed=21)
    log_dir = tmp_path / "log"
    write_changelog(ev, str(log_dir), n_files=5)
    table = run_stream(
        spark,
        str(log_dir),
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        CHANGELOG_SCHEMA,
        max_files_per_trigger=2,
    )
    assert_state_matches(table, ev)
    # one lineage record set per micro-batch (ceil(5 files / 2) = 3 batches)
    assert table.read_lineage().select("batch_id").distinct().count() == 3


def test_stream_new_files_after_drain(spark, tmp_path):
    """Incremental tail: a second availableNow run picks up only new files."""
    ev = generate_changelog_pandas(4000, seed=22)
    half = len(ev) // 2
    log_dir = tmp_path / "log"
    write_changelog(ev.iloc[:half], str(log_dir), n_files=2)
    args = (
        str(log_dir),
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        CHANGELOG_SCHEMA,
    )
    run_stream(spark, *args)
    # late files arrive (names must sort after the first tranche)
    more = ev.iloc[half:]
    import os

    os.makedirs(str(log_dir), exist_ok=True)
    more_dir = tmp_path / "more"
    files = write_changelog(more, str(more_dir), n_files=2)
    for i, f in enumerate(files):
        os.rename(f, str(log_dir / f"late-{i:05d}.parquet"))
    table = run_stream(spark, *args)
    assert_state_matches(table, ev)


def test_crash_after_sink_commit_is_exactly_once(spark, tmp_path):
    """Kill the query after the sink committed batch 0 but before the
    checkpoint recorded it; on restart the batch replays and the sink's
    epoch ledger skips it — final state still equals the oracle."""
    ev = generate_changelog_pandas(4000, seed=23)
    log_dir = tmp_path / "log"
    write_changelog(ev, str(log_dir), n_files=4)
    args = (
        str(log_dir),
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        CHANGELOG_SCHEMA,
    )
    applied = []

    def crash_after_first(batch_id, lineage):
        applied.append((batch_id, lineage))
        raise RuntimeError("simulated crash after sink commit")

    with pytest.raises(Exception, match="simulated crash"):
        run_stream(spark, *args, max_files_per_trigger=2, on_batch=crash_after_first)
    assert applied and applied[0][1] is not None  # sink DID commit batch 0

    replays = []
    table = run_stream(
        spark,
        *args,
        max_files_per_trigger=2,
        on_batch=lambda b, lin: replays.append((b, lin)),
    )
    # batch 0 was replayed and skipped by the epoch ledger
    assert replays[0][0] == 0 and replays[0][1] is None
    assert all(lin is not None for _, lin in replays[1:])
    assert_state_matches(table, ev)


def test_install_graceful_stop_off_main_thread_is_noop(spark):
    """Library callers may run streams off the main thread — the installer
    must warn and skip, never raise ValueError."""
    import threading

    from vuln_datasync_spark.streaming.pipeline import install_graceful_stop

    class _FakeQuery:
        def stop(self):
            pass

    result = {}

    def run():
        result["state"] = install_graceful_stop(_FakeQuery())

    t = threading.Thread(target=run)
    t.start()
    t.join()
    assert result["state"]["installed"] is False
    assert result["state"]["signal"] is None
    result["state"]["restore"]()  # no-op, must not raise


def test_install_graceful_stop_saves_and_restores_handlers():
    """On the main thread: previous handlers are chained and restored."""
    import signal

    from vuln_datasync_spark.streaming.pipeline import install_graceful_stop

    seen = []

    def host_handler(signum, frame):
        seen.append(signum)

    old = signal.signal(signal.SIGTERM, host_handler)
    try:
        class _FakeQuery:
            stopped = False

            def stop(self):
                _FakeQuery.stopped = True

        state = install_graceful_stop(_FakeQuery())
        assert state["installed"] is True
        installed = signal.getsignal(signal.SIGTERM)
        assert installed is not host_handler
        # deliver: our handler schedules the stop AND chains the host's
        installed(signal.SIGTERM, None)
        assert state["signal"] == signal.SIGTERM
        assert seen == [signal.SIGTERM]
        state["restore"]()
        assert signal.getsignal(signal.SIGTERM) is host_handler
    finally:
        signal.signal(signal.SIGTERM, old)
