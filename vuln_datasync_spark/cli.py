"""spark-submit entrypoint for the CDC engine.

Ship the package with --py-files and drive it with subcommands::

    # package once (pure-python package, no build step)
    cd /root/repo && zip -r /tmp/vds.zip vuln_datasync_spark

    spark-submit --py-files /tmp/vds.zip -m vuln_datasync_spark.cli -- \\
        stream --changelog /data/changelog --table /lake/repo_files \\
               --checkpoint /ckpt/repo_files --max-files-per-trigger 16

    # or equivalently
    spark-submit --py-files /tmp/vds.zip cli_shim.py replay ...

Subcommands:
  replay   batch-apply a whole changelog directory to the table
  stream   tail the changelog with Structured Streaming (availableNow or
           processingTime trigger), exactly-once, resumable
  corpus-stream  training-corpus ingest with incremental dedup gating
  stats    table + lineage summary (reference /api/v1/stats analog)
  compact  expire old snapshots and drop aged tombstones
  synth    generate a deterministic synthetic changelog (testing)

Reference analog: the HTTP/job API surface of vuln-datasync
(/root/reference/internal/api/server.go:110-322) collapsed into a CLI —
Spark's scheduler replaces the Redis/Asynq job queue (SURVEY.md §2.10).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("vds-cli", master=args.master)


def cmd_replay(args) -> int:
    from .sinks.manifest_table import ManifestTable
    from .sources.changelog import read_changelog_batch
    from .streaming.pipeline import apply_batch

    spark = _spark(args)
    import os

    if os.path.exists(os.path.join(args.table, "_table.json")):
        table = ManifestTable(spark, args.table)
    else:
        table = ManifestTable.create(
            spark, args.table, n_buckets=args.buckets,
            merge_mode=args.merge_mode,
        )
    events = read_changelog_batch(
        spark, args.changelog, fmt=args.format, since_seq=args.since_seq
    )
    lineage = apply_batch(
        events, table, checkpoint_id=args.job_id, batch_id=args.batch_id
    )
    print(json.dumps(lineage))
    return 0


def cmd_stream(args) -> int:
    from .streaming.pipeline import run_stream
    from .sources.changelog import changelog_schema

    spark = _spark(args)
    run_stream(
        spark,
        args.changelog,
        args.table,
        args.checkpoint,
        changelog_schema(),
        max_files_per_trigger=args.max_files_per_trigger,
        processing_time=args.processing_time,
        # long-lived tails drain on SIGINT/SIGTERM; the availableNow drain
        # exits on its own and must not clobber the host's handlers
        graceful_stop=args.processing_time is not None,
        envelope_format=args.envelope_format,
        envelope_dlq_dir=args.envelope_dlq,
    )
    return 0


def cmd_rollback(args) -> int:
    """Restore the table to a prior snapshot (metadata-only; see
    ManifestTable.rollback — epochs after the target re-open for replay)."""
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    sid = table.rollback(args.snapshot)
    print(json.dumps({"snapshot_id": sid, "rolled_back_to": args.snapshot}))
    return 0


def cmd_changes(args) -> int:
    """Print the row-level change feed between two snapshots as JSON
    lines (insert/update/delete; see ManifestTable.read_changes)."""
    from pyspark.sql import functions as F

    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    cf = table.read_changes(args.since, args.to)
    if args.summary:
        rows = cf.groupBy("_change_type").count().collect()
        print(json.dumps({r["_change_type"]: r["count"] for r in rows}))
        return 0
    for line in cf.toJSON().toLocalIterator():
        print(line)
    return 0


def cmd_stats(args) -> int:
    from pyspark.sql import functions as F

    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    if args.fast:
        # metadata-only: exact counts from manifest stats (count_rows
        # falls back to a pruned scan only for logged/uncovered buckets)
        out = {
            "rows": table.count_rows(include_tombstones=True),
            "live_rows": table.count_rows(),
            "snapshots": len(table.snapshots()),
        }
        lineage = table.read_lineage()
        out["batches_applied"] = (
            lineage.select("checkpoint_id", "batch_id").distinct().count()
        )
        print(json.dumps(out, default=str))
        return 0
    df = table.read(include_tombstones=True)
    # distinct-count the table's first key column (repo for the CDC
    # schema) — stats works on any keying
    key0 = table.key_cols[0]
    row = df.agg(
        F.count("*").alias("rows"),
        F.count(F.when(F.col("is_deleted"), 1)).alias("tombstones"),
        F.countDistinct(key0).alias(f"distinct_{key0}"),
        F.max("commit_seq").alias("max_seq"),
    ).first()
    out = dict(row.asDict())
    out["snapshots"] = len(table.snapshots())
    lineage = table.read_lineage()
    out["batches_applied"] = lineage.select("checkpoint_id", "batch_id").distinct().count()
    print(json.dumps(out, default=str))
    return 0


def cmd_compact(args) -> int:
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    out = {}
    if args.compact_logs:
        out["log_compaction"] = table.compact_logs(
            min_logs=args.min_bucket_logs
        )
    if args.expire_tombstones_below is not None:
        table.expire_tombstones(args.expire_tombstones_below)
    table.expire_snapshots(keep=args.keep_snapshots)
    out["snapshots"] = len(table.snapshots())
    if args.expire_lineage_before:
        out["lineage_expire"] = table.expire_lineage(args.expire_lineage_before)
    out["lineage_compact"] = table.compact_lineage(
        max_files=args.lineage_max_files
    )
    print(json.dumps(out))
    return 0


def cmd_corpus_stream(args) -> int:
    """Training-corpus ingest as a resumable micro-batch tail: per-batch
    exact + near-dup dedup gating against the persisted minhash index,
    exactly-once MERGE of the survivors."""
    from .pipelines.corpus_stream import run_corpus_stream

    spark = _spark(args)
    table = run_corpus_stream(
        spark,
        args.incoming,
        args.table,
        args.index,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        threshold=args.threshold,
    )
    print(json.dumps({"rows": table.read().count()}))
    return 0


def cmd_sync_index(args) -> int:
    """Advance an ANN index to a vector table's current snapshot via the
    change feed (bootstrap build on first run; delta upsert + deletes
    after)."""
    from .pipelines.index_sync import sync_ann_index
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rec = sync_ann_index(
        table,
        args.index,
        args.vec_col,
        args.dim,
        consumer_id=args.consumer,
        reset_on_missing_base=args.reset_on_missing_base,
    )
    print(json.dumps(rec or {"status": "current"}))
    return 0


def cmd_sync_alias(args) -> int:
    """Advance the alias -> id inverted index to the table's current
    snapshot via the preimage change feed (stale alias cells cleared)."""
    from .pipelines.index_sync import sync_alias_index
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rec = sync_alias_index(
        table,
        args.index,
        alias_col=args.alias_col,
        consumer_id=args.consumer,
        reset_on_missing_base=args.reset_on_missing_base,
    )
    print(json.dumps(rec or {"status": "current"}))
    return 0


def cmd_sync_token(args) -> int:
    """Advance the inverted token index (search / decontamination
    probes) to the table's current snapshot via the preimage change
    feed: content changes clear stale postings, deletes clear all."""
    from .pipelines.index_sync import sync_token_index
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rec = sync_token_index(
        table,
        args.index,
        args.text_col,
        consumer_id=args.consumer,
        reset_on_missing_base=args.reset_on_missing_base,
    )
    print(json.dumps(rec or {"status": "current"}))
    return 0


def cmd_sync_outbox(args) -> int:
    """Publish the table's change feed as Debezium envelope JSON lines
    (the CDC outbox — consumable by any Debezium-speaking system or by
    this engine's own `stream --envelope-format debezium`)."""
    from .sinks.manifest_table import ManifestTable
    from .sources.debezium import sync_envelope_outbox

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rec = sync_envelope_outbox(
        table,
        args.out,
        consumer_id=args.consumer,
        db=args.db,
        table_name=args.table_name,
        reset_on_missing_base=args.reset_on_missing_base,
    )
    print(json.dumps(rec or {"status": "current"}))
    return 0


def cmd_learn_bpe(args) -> int:
    """Induce a BPE tokenizer from a parquet corpus and write the merge
    table (rank, left, right) — the artifact a tokenizer ships."""
    from .operators.bpe import learn_bpe, merges_table

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    merges = learn_bpe(
        df, args.text_col, n_merges=args.merges, min_freq=args.min_freq
    )
    merges_table(spark, merges).coalesce(1).write.mode("overwrite").parquet(
        args.out
    )
    print(json.dumps({"merges_learned": len(merges), "out": args.out}))
    return 0


def cmd_tokenize(args) -> int:
    """Tokenize a parquet corpus with a shipped BPE merge table
    (learn-bpe output) — map-only encode, tokens written alongside the
    input columns."""
    from .operators.bpe import apply_bpe, load_merges

    spark = _spark(args)
    merges = load_merges(spark, args.merges)
    df = spark.read.parquet(args.input)
    out = apply_bpe(df, args.text_col, merges, out_col=args.tokens_col)
    out.write.mode("overwrite").parquet(args.out)
    print(
        json.dumps(
            {"rows": spark.read.parquet(args.out).count(), "out": args.out}
        )
    )
    return 0


def cmd_validate(args) -> int:
    """Run declarative data-contract rules against a table and print the
    violation report as JSON lines (``--strict`` exits 1 on any
    violation — the CI-gate form). ``ref`` rules are library-only (they
    need a second DataFrame); the CLI covers the row-level and
    uniqueness kinds."""
    from .operators.quality_rules import validate_rules
    from .sinks.manifest_table import ManifestTable

    with open(args.rules) as fh:
        rules = json.load(fh)
    if any(r.get("kind") == "ref" for r in rules):
        print("ref rules need the library API (second table)", file=sys.stderr)
        return 2
    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rows = validate_rules(table.read(), rules).collect()
    bad = 0
    for r in rows:
        print(json.dumps(r.asDict()))
        bad += int(r["violations"] > 0)
    return 1 if (args.strict and bad) else 0


def cmd_lookup(args) -> int:
    """Point lookup by key or alias, printed as JSON lines. Keys read
    only their hash buckets; aliases probe the inverted index first
    (reference GetVulnerabilityByID / GetVulnerabilityByAlias)."""
    from .operators.alias_index import resolve_aliases
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    if args.alias:
        if not args.index:
            raise SystemExit("--alias lookup needs --index")
        df = resolve_aliases(table, args.index, args.values)
    else:
        df = table.lookup(
            [tuple(v.split("||")) if "||" in v else v for v in args.values]
        )
    for line in df.toJSON().toLocalIterator():
        print(line)
    return 0


def _parse_bound(s: str):
    """CLI range bound: int, float, ISO datetime (with a time part) or
    date, else string. Empty = unbounded."""
    if s == "":
        return None
    for conv in (int, float):
        try:
            return conv(s)
        except ValueError:
            pass
    import datetime as dt

    try:
        if ":" in s or "T" in s:
            return dt.datetime.fromisoformat(s)
        return dt.date.fromisoformat(s)
    except ValueError:
        return s


def _parse_where(clauses: list[str]) -> dict:
    out = {}
    for c in clauses:
        if "=" not in c or ".." not in c.split("=", 1)[1]:
            raise SystemExit(f"--where wants COL=LO..HI (got {c!r})")
        col, rng = c.split("=", 1)
        lo, hi = rng.split("..", 1)
        out[col] = (_parse_bound(lo), _parse_bound(hi))
    return out


def cmd_scan(args) -> int:
    """Range-filtered snapshot read: zone-map file skipping + residual
    predicate, printed as JSON lines (or --report: the prune decision)."""
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rf = _parse_where(args.where)
    if args.report:
        rep = table.prune_report(rf, snapshot_id=args.snapshot)
        print(
            json.dumps(
                {
                    "kept": len(rep["kept"]),
                    "skipped": len(rep["skipped"]),
                    "skipped_files": rep["skipped"],
                }
            )
        )
        return 0
    df = table.read(snapshot_id=args.snapshot, range_filters=rf or None)
    if args.limit:
        df = df.limit(args.limit)
    for line in df.toJSON().toLocalIterator():
        print(line)
    return 0


def cmd_maintain(args) -> int:
    """One stat-driven maintenance pass: tombstone expiry, zone-decay
    re-clustering, snapshot expiry, lineage compaction — decisions from
    manifest JSON only."""
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rep = table.maintain(
        tombstone_watermark=args.tombstone_watermark,
        tombstone_fraction=args.tombstone_fraction,
        cluster_sort=(
            tuple(c.strip() for c in args.cluster_by.split(","))
            if args.cluster_by
            else None
        ),
        keep_snapshots=args.keep_snapshots,
    )
    print(json.dumps(rep))
    return 0


def cmd_vacuum(args) -> int:
    """Remove orphan data files left by crashed writers."""
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    out = table.remove_orphan_files(older_than_seconds=args.older_than)
    print(json.dumps(out))
    return 0


def _op_epoch_key(*parts) -> str:
    """Deterministic epoch-key suffix for predicate delete/update runs:
    a hash of the operation's own arguments, so distinct operations run
    with default flags occupy distinct exactly-once epochs (checkpoint_id
    must not be a shared constant — the second distinct operation would
    be swallowed as an epoch replay)."""
    import hashlib

    return hashlib.sha256(repr(parts).encode()).hexdigest()[:12]


def cmd_delete_where(args) -> int:
    """Predicate delete routed through MERGE as tombstone events (the
    takedown path — change feed and index syncs observe it like CDC)."""
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    # default epoch key = hash of the operation itself: two DIFFERENT
    # deletes run with defaults must not collide on one epoch (the second
    # would be silently swallowed as "replayed-epoch")
    ckpt = args.checkpoint_id or "delete-where-" + _op_epoch_key(
        args.predicate, args.where
    )
    rec = table.delete_where(
        args.predicate,
        checkpoint_id=ckpt,
        batch_id=args.batch_id,
        range_filters=_parse_where(args.where) or None,
    )
    print(
        json.dumps(
            {"status": "replayed-epoch"}
            if rec is None
            else {
                "rows_deleted": rec["rows_applied"],
                "snapshot_id": rec["snapshot_id"],
            }
        )
    )
    return 0


def cmd_update_where(args) -> int:
    """Predicate UPDATE routed through MERGE as update events (backfill
    fixes — change feed and index syncs observe it like CDC)."""
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    sets = {}
    for kv in args.set:
        if "=" not in kv:
            raise SystemExit(f"--set expects COL=SQL_EXPR, got {kv!r}")
        c, expr = kv.split("=", 1)
        sets[c.strip()] = expr
    ckpt = args.checkpoint_id or "update-where-" + _op_epoch_key(
        args.predicate, args.where, sorted(sets.items())
    )
    rec = table.update_where(
        args.predicate,
        sets,
        checkpoint_id=ckpt,
        batch_id=args.batch_id,
        range_filters=_parse_where(args.where) or None,
    )
    print(
        json.dumps(
            {"status": "replayed-epoch"}
            if rec is None
            else {
                "rows_updated": rec["rows_applied"],
                "snapshot_id": rec["snapshot_id"],
            }
        )
    )
    return 0


def cmd_cluster(args) -> int:
    """Sort-within-bucket rewrite (OPTIMIZE-lite): orders each hash
    bucket by --by and splits it into --target-file-rows files so zone
    maps prune inside buckets."""
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    sid = table.cluster(
        sort_by=(
            [c.strip() for c in args.by.split(",") if c.strip()]
            if args.by
            else None
        ),
        zorder=(
            [c.strip() for c in args.zorder.split(",") if c.strip()]
            if getattr(args, "zorder", None)
            else None
        ),
        target_file_rows=args.target_file_rows,
        buckets=(
            [int(b) for b in args.buckets.split(",")] if args.buckets else None
        ),
    )
    print(json.dumps({"snapshot_id": sid}))
    return 0


def cmd_compact_log(args) -> int:
    """Kafka-style changelog compaction: one LWW reduce, output
    proportional to live keys. See sources/changelog.compact_changelog."""
    from .sources.changelog import compact_changelog

    spark = _spark(args)
    marker = compact_changelog(
        spark,
        args.changelog,
        args.out,
        upto_seq=args.upto_seq,
        retain_tombstones=not args.drop_tombstones,
        n_files=args.n_files,
    )
    print(json.dumps(marker))
    return 0


def cmd_profile(args) -> int:
    """ANALYZE-style per-column profile of the live table state: rows,
    nulls, min/max, KMV ndv estimate. One scan; shuffles independent of
    table size."""
    from .operators.profiling import profile_columns
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    df = table.read(snapshot_id=args.snapshot)
    cols = args.cols.split(",") if args.cols else [
        f.name for f in df.schema.fields
        if not f.name.startswith("_")
    ]
    rows = profile_columns(df, cols, k=args.k).orderBy("col_name").collect()
    print(json.dumps([r.asDict() for r in rows], default=str))
    return 0


def cmd_distinct(args) -> int:
    """Bounded-state distinct count of a column, optionally per group
    (operators/sketch.py kmv_distinct — the reference's per-source
    distinct-vuln dashboards, sql/vulnerabilities.sql:105-126, served
    without a ∝-distinct-keys shuffle). With --sketch-out, persists the
    mergeable per-group sketch rows instead, for later
    kmv_merge_estimate calls over any union of segments."""
    from .operators.sketch import kmv_distinct, kmv_sketch
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    df = table.read(snapshot_id=args.snapshot)
    by = args.by.split(",") if args.by else []
    if args.sketch_out:
        kmv_sketch(df, by, args.col, k=args.k).write.mode(
            "overwrite"
        ).parquet(args.sketch_out)
        print(json.dumps({"sketch": args.sketch_out, "k": args.k}))
        return 0
    if by:
        rows = kmv_distinct(df, by, args.col, k=args.k).orderBy(*by).collect()
        print(json.dumps([r.asDict() for r in rows], default=str))
    else:
        rows = kmv_distinct(df, [], args.col, k=args.k).collect()
        est = rows[0]["est_distinct"] if rows else 0
        print(json.dumps({"est_distinct": est}))
    return 0


def cmd_sync_agg(args) -> int:
    """Advance a materialized per-dimension aggregate to the table's
    current snapshot via the preimage change feed (O(delta) per sync)."""
    from .pipelines.agg_sync import sync_agg
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rec = sync_agg(
        table,
        args.state,
        args.dims.split(","),
        consumer_id=args.consumer,
        sum_col=args.sum_col,
        distinct_col=args.distinct_col,
    )
    print(json.dumps(rec or {"status": "current"}))
    return 0


def cmd_sync_scd2(args) -> int:
    """Advance an SCD2 history dimension to the table's current
    snapshot via the change feed (closed versions append-only)."""
    from .pipelines.scd_sync import sync_scd2
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    rec = sync_scd2(table, args.state, consumer_id=args.consumer)
    print(json.dumps(rec))
    return 0


def cmd_fsck(args) -> int:
    from .sinks.manifest_table import ManifestTable

    spark = _spark(args)
    table = ManifestTable(spark, args.table)
    out = table.verify_table(
        check_rows=args.rows, check_routing=args.routing
    )
    print(json.dumps(out, default=str))
    return 0 if out["ok"] else 1


def cmd_synth(args) -> int:
    from .datagen import generate_changelog_spark

    spark = _spark(args)
    df = generate_changelog_spark(spark, args.events, seed=args.seed)
    df.repartition(args.files).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"events": args.events, "out": args.out}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vuln_datasync_spark")
    p.add_argument("--master", default=None, help="override spark master")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("replay", help="batch-apply a changelog")
    r.add_argument("--changelog", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--format", default="parquet", choices=["parquet", "json"])
    r.add_argument("--since-seq", type=int, default=None)
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--job-id", default="cli")
    r.add_argument("--batch-id", type=int, default=0)
    r.add_argument("--merge-mode", default="cow", choices=["cow", "mor"],
                   help="table write mode when CREATING the table: cow "
                   "rewrites touched buckets; mor appends per-bucket log "
                   "files (compact with `compact --logs`)")
    r.set_defaults(fn=cmd_replay)

    s = sub.add_parser("stream", help="tail the changelog (exactly-once)")
    s.add_argument("--changelog", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--max-files-per-trigger", type=int, default=None)
    s.add_argument("--processing-time", default=None,
                   help="long-lived tail trigger interval (e.g. '2 seconds');"
                   " default drains available files once (availableNow)")
    s.add_argument("--envelope-format", default=None,
                   choices=["debezium", "maxwell"],
                   help="the changelog dir holds raw WAL/binlog envelope "
                   "JSON lines instead of canonical parquet; parse with "
                   "sources/debezium.py before the merge")
    s.add_argument("--envelope-dlq", default=None,
                   help="parquet dir for malformed envelopes (epoch-named "
                   "subdirs, idempotent overwrite per replay)")
    s.set_defaults(fn=cmd_stream)

    ch = sub.add_parser(
        "changes", help="row-level change feed between two snapshots"
    )
    ch.add_argument("--table", required=True)
    ch.add_argument(
        "--since", default=None,
        help="base snapshot id (exclusive; default: empty table)",
    )
    ch.add_argument(
        "--to", default=None, help="target snapshot id (default: current)"
    )
    ch.add_argument(
        "--summary", action="store_true",
        help="print per-change-type counts instead of rows",
    )
    ch.set_defaults(fn=cmd_changes)

    rb = sub.add_parser(
        "rollback", help="restore the table to a prior snapshot"
    )
    rb.add_argument("--table", required=True)
    rb.add_argument(
        "--snapshot", required=True, help="target snapshot id (see stats)"
    )
    rb.set_defaults(fn=cmd_rollback)

    st = sub.add_parser("stats", help="table + lineage summary")
    st.add_argument("--table", required=True)
    st.add_argument("--fast", action="store_true",
                    help="metadata-only counts from manifest stats "
                    "(no table scan)")
    st.set_defaults(fn=cmd_stats)

    fs = sub.add_parser(
        "fsck", help="table integrity audit (files/chain/epochs; "
        "--rows/--routing add one key-column scan)"
    )
    fs.add_argument("--table", required=True)
    fs.add_argument("--rows", action="store_true",
                    help="compare per-file parquet row counts vs manifest stats")
    fs.add_argument("--routing", action="store_true",
                    help="re-hash every key and confirm its bucket dir")
    fs.set_defaults(fn=cmd_fsck)

    c = sub.add_parser("compact", help="expire snapshots / tombstones")
    c.add_argument("--table", required=True)
    c.add_argument("--keep-snapshots", type=int, default=3)
    c.add_argument("--expire-tombstones-below", type=int, default=None)
    c.add_argument("--expire-lineage-before", default=None,
                   help="drop lineage rows committed before this ISO-8601 UTC time")
    c.add_argument("--lineage-max-files", type=int, default=64,
                   help="compact _lineage/ when it holds more parquet files than this")
    c.add_argument("--logs", dest="compact_logs", action="store_true",
                   help="fold merge-on-read log files into base files")
    c.add_argument("--min-bucket-logs", type=int, default=1,
                   help="with --logs: only fold buckets with at least this many log files")
    c.set_defaults(fn=cmd_compact)

    cs = sub.add_parser(
        "corpus-stream",
        help="training-corpus ingest tail: per-batch dedup gate against "
        "the persisted minhash index, exactly-once MERGE of survivors",
    )
    cs.add_argument("--table", required=True)
    cs.add_argument("--incoming", required=True,
                    help="directory of document parquet "
                    "(DOC_STREAM_DDL schema)")
    cs.add_argument("--index", required=True,
                    help="minhash index root (created on first batch)")
    cs.add_argument("--checkpoint", required=True)
    cs.add_argument("--threshold", type=float, default=0.5,
                    help="est_jaccard near-dup drop threshold")
    cs.add_argument("--max-files-per-trigger", type=int, default=None)
    cs.set_defaults(fn=cmd_corpus_stream)

    si = sub.add_parser(
        "sync-index", help="advance an ANN index via the change feed"
    )
    si.add_argument("--table", required=True)
    si.add_argument("--index", required=True)
    si.add_argument("--vec-col", default="embedding")
    si.add_argument("--dim", type=int, required=True)
    si.add_argument("--consumer", default="ann-index")
    si.add_argument("--reset-on-missing-base", action="store_true")
    si.set_defaults(fn=cmd_sync_index)

    sal = sub.add_parser(
        "sync-alias", help="advance the alias index via the change feed"
    )
    sal.add_argument("--table", required=True)
    sal.add_argument("--index", required=True)
    sal.add_argument("--alias-col", default="aliases")
    sal.add_argument("--consumer", default="alias-index")
    sal.add_argument("--reset-on-missing-base", action="store_true")
    sal.set_defaults(fn=cmd_sync_alias)

    stk = sub.add_parser(
        "sync-token", help="advance the token index via the change feed"
    )
    stk.add_argument("--table", required=True)
    stk.add_argument("--index", required=True)
    stk.add_argument("--text-col", default="content")
    stk.add_argument("--consumer", default="token-index")
    stk.add_argument("--reset-on-missing-base", action="store_true")
    stk.set_defaults(fn=cmd_sync_token)

    sox = sub.add_parser(
        "sync-outbox",
        help="publish the change feed as Debezium envelopes (CDC egress)",
    )
    sox.add_argument("--table", required=True)
    sox.add_argument("--out", required=True)
    sox.add_argument("--consumer", default="envelope-outbox")
    sox.add_argument("--db", default="app")
    sox.add_argument("--table-name", default="files")
    sox.add_argument("--reset-on-missing-base", action="store_true")
    sox.set_defaults(fn=cmd_sync_outbox)

    bpe = sub.add_parser(
        "learn-bpe", help="induce a BPE tokenizer (merge table) from parquet"
    )
    bpe.add_argument("--input", required=True, help="parquet corpus dir")
    bpe.add_argument("--text-col", default="text")
    bpe.add_argument("--merges", type=int, default=200)
    bpe.add_argument("--min-freq", type=int, default=2)
    bpe.add_argument("--out", required=True, help="merge-table parquet dir")
    bpe.set_defaults(fn=cmd_learn_bpe)

    tok = sub.add_parser(
        "tokenize", help="apply a BPE merge table to a parquet corpus"
    )
    tok.add_argument("--input", required=True, help="parquet corpus dir")
    tok.add_argument("--merges", required=True, help="merge-table parquet")
    tok.add_argument("--text-col", default="text")
    tok.add_argument("--tokens-col", default="tokens")
    tok.add_argument("--out", required=True)
    tok.set_defaults(fn=cmd_tokenize)

    lk = sub.add_parser(
        "lookup", help="point lookup by key (or --alias via the index)"
    )
    lk.add_argument("--table", required=True)
    lk.add_argument("--alias", action="store_true")
    lk.add_argument("--index", help="alias index path (with --alias)")
    lk.add_argument(
        "values",
        nargs="+",
        help="key values ('a||b' for composite keys) or aliases",
    )
    lk.set_defaults(fn=cmd_lookup)

    sc = sub.add_parser(
        "scan", help="range-filtered read with zone-map file skipping"
    )
    sc.add_argument("--table", required=True)
    sc.add_argument(
        "--where",
        action="append",
        default=[],
        metavar="COL=LO..HI",
        help="inclusive range; leave a side empty for unbounded",
    )
    sc.add_argument("--snapshot")
    sc.add_argument("--limit", type=int, default=0)
    sc.add_argument(
        "--report", action="store_true", help="print the prune decision only"
    )
    sc.set_defaults(fn=cmd_scan)

    mn = sub.add_parser(
        "maintain", help="stat-driven maintenance pass (table doctor)"
    )
    mn.add_argument("--table", required=True)
    mn.add_argument("--tombstone-watermark", type=int)
    mn.add_argument("--tombstone-fraction", type=float, default=0.2)
    mn.add_argument("--cluster-by", help="comma-separated sort columns")
    mn.add_argument("--keep-snapshots", type=int, default=3)
    mn.set_defaults(fn=cmd_maintain)

    dq = sub.add_parser(
        "validate", help="data-contract checks with a violation report"
    )
    dq.add_argument("--table", required=True)
    dq.add_argument(
        "--rules", required=True, help="JSON file: list of rule dicts"
    )
    dq.add_argument(
        "--strict",
        action="store_true",
        help="exit 1 when any rule has violations",
    )
    dq.set_defaults(fn=cmd_validate)

    vc = sub.add_parser("vacuum", help="delete orphan data files")
    vc.add_argument("--table", required=True)
    vc.add_argument(
        "--older-than",
        type=float,
        default=3600,
        help="grace period seconds (never touch younger files)",
    )
    vc.set_defaults(fn=cmd_vacuum)

    dw = sub.add_parser(
        "delete-where", help="predicate delete as CDC tombstones"
    )
    dw.add_argument("--table", required=True)
    dw.add_argument(
        "--predicate", required=True, help="SQL condition, e.g. \"repo = 'x'\""
    )
    dw.add_argument(
        "--where",
        action="append",
        default=[],
        metavar="COL=LO..HI",
        help="optional zone-map scan scope",
    )
    dw.add_argument(
        "--checkpoint-id",
        default=None,
        help="exactly-once epoch key; defaults to a hash of the "
        "predicate+scope so DIFFERENT deletes never collide on one "
        "epoch (re-running the SAME delete is still a replay no-op — "
        "bump --batch-id to re-apply it to newer data)",
    )
    dw.add_argument("--batch-id", type=int, default=0)
    dw.set_defaults(fn=cmd_delete_where)

    uw = sub.add_parser(
        "update-where", help="predicate update as CDC update events"
    )
    uw.add_argument("--table", required=True)
    uw.add_argument(
        "--predicate", required=True, help="SQL condition, e.g. \"repo = 'x'\""
    )
    uw.add_argument(
        "--set",
        action="append",
        required=True,
        metavar="COL=SQL_EXPR",
        help="target column and SQL expression (repeatable)",
    )
    uw.add_argument(
        "--where",
        action="append",
        default=[],
        metavar="COL=LO..HI",
        help="optional zone-map scan scope",
    )
    uw.add_argument(
        "--checkpoint-id",
        default=None,
        help="exactly-once epoch key; defaults to a hash of the "
        "predicate+assignments+scope so DIFFERENT updates never collide "
        "on one epoch (re-running the SAME update is still a replay "
        "no-op — bump --batch-id to re-apply it to newer data)",
    )
    uw.add_argument("--batch-id", type=int, default=0)
    uw.set_defaults(fn=cmd_update_where)

    cl = sub.add_parser(
        "cluster", help="sort-within-bucket rewrite for read locality"
    )
    cl.add_argument("--table", required=True)
    g2 = cl.add_mutually_exclusive_group(required=True)
    g2.add_argument("--by", help="comma-separated sort columns")
    g2.add_argument(
        "--zorder",
        help="comma-separated columns for Morton bit-interleave "
        "(multi-dimension zone-map pruning)",
    )
    cl.add_argument("--target-file-rows", type=int)
    cl.add_argument("--buckets", help="comma-separated bucket subset")
    cl.set_defaults(fn=cmd_cluster)

    cl = sub.add_parser(
        "compact-log", help="compact a changelog to winning events per key"
    )
    cl.add_argument("--changelog", required=True)
    cl.add_argument("--out", required=True)
    cl.add_argument("--upto-seq", type=int, default=None)
    cl.add_argument(
        "--drop-tombstones", action="store_true",
        help="drop delete-winners too (ONLY for bootstrap-from-empty "
        "consumers)",
    )
    cl.add_argument("--n-files", type=int, default=None)
    cl.set_defaults(fn=cmd_compact_log)

    pf = sub.add_parser(
        "profile", help="per-column rows/nulls/min/max/ndv profile"
    )
    pf.add_argument("--table", required=True)
    pf.add_argument("--cols", default=None, help="comma-separated; "
                    "default: all non-internal columns")
    pf.add_argument("--k", type=int, default=256)
    pf.add_argument("--snapshot", default=None)
    pf.set_defaults(fn=cmd_profile)

    dc = sub.add_parser(
        "distinct",
        help="bounded-state distinct count (KMV), optionally per group",
    )
    dc.add_argument("--table", required=True)
    dc.add_argument("--col", required=True)
    dc.add_argument("--by", default=None, help="comma-separated group cols")
    dc.add_argument("--k", type=int, default=256)
    dc.add_argument("--snapshot", default=None)
    dc.add_argument(
        "--sketch-out",
        default=None,
        help="write mergeable per-group sketch rows here instead of "
        "estimating (input to later union estimates)",
    )
    dc.set_defaults(fn=cmd_distinct)

    sa = sub.add_parser(
        "sync-agg", help="advance a materialized aggregate via the feed"
    )
    sa.add_argument("--table", required=True)
    sa.add_argument("--state", required=True)
    sa.add_argument("--dims", required=True, help="comma-separated columns")
    sa.add_argument("--sum-col", default=None)
    sa.add_argument(
        "--distinct-col", default=None,
        help="maintain exact COUNT(DISTINCT col) via a retractable "
        "support table",
    )
    sa.add_argument("--consumer", default="agg")
    sa.set_defaults(fn=cmd_sync_agg)

    sd = sub.add_parser(
        "sync-scd2",
        help="advance an SCD2 history dimension via the change feed",
    )
    sd.add_argument("--table", required=True)
    sd.add_argument("--state", required=True)
    sd.add_argument("--consumer", default="scd2")
    sd.set_defaults(fn=cmd_sync_scd2)

    g = sub.add_parser("synth", help="generate a synthetic changelog")
    g.add_argument("--events", type=int, default=100000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--files", type=int, default=8)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_synth)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
