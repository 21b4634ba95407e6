"""vuln_datasync_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of the reference system (vchan-in/vuln-datasync,
a Go pull-normalize-upsert loop over PostgreSQL) as an idiomatic Spark
pipeline:

    changelog (insert/update/delete events keyed by (repo, path))
        -> vectorized normalization (built-in exprs + Arrow pandas UDFs)
        -> last-writer-wins resolution per key (one window resolver;
           the earliest arrival wins a tie, so merge-on-read and
           copy-on-write tables agree)
        -> MERGE into a snapshot-isolated keyed table (mini-Iceberg parquet
           sink with atomic manifest commits; real Iceberg behind import-try)
        -> per-micro-batch lineage records, exactly-once via epoch-tagged
           commits + monotone commit_seq merge conditions.

Layout:
    datagen/    deterministic synthetic changelog + single-threaded oracle
    functions/  column functions (content hash, normalize, text)
    operators/  LWW resolve, quality rules, dedup, similarity, corpus,
                analytics and multimodal operators
    pipelines/  corpus prep, index and aggregate sync over the same sink
    sinks/      ManifestTable keyed MERGE sink, Bloom/Z-order layout, exports
    sources/    changelog batch/stream sources, Debezium/Maxwell envelopes
    streaming/  apply_batch / run_stream pipeline + lineage, windows, joins
    plans/      query catalog (Spark impl + DuckDB oracle SQL pairs)
    cli.py      spark-submit subcommands over the same engine

Importing the package installs ``_zipguard`` (CPython < 3.13): Python
workers import it when they unpickle a package UDF, and from then on a
task's ``importlib.invalidate_caches()`` no longer re-reads an unchanged
``pyspark.zip``.
"""

from . import _zipguard

_zipguard.install()

__version__ = "0.1.0"
