"""Normalization projections — the Spark restatement of the reference's
per-source normalizers (/root/reference/internal/merger/normalizer.go:28-310).

Everything stays JVM-side (built-in functions / whole-stage codegen) except
language detection, which per input_hint runs through a vectorized
pandas/Arrow UDF (zero per-row Python) — the analog of the reference's
ecosystem inference (normalizer.go:313-336, gitlab/fetcher.go:291-311).

A pandas UDF's fixed cost is per task, not per row. Every task of a
Python worker starts with ``importlib.invalidate_caches()``, which on
CPython < 3.13 re-reads the directory of ``pyspark.zip`` once per cached
zipimporter: about 0.2-0.3 CPU s per task, so ~2.4 CPU s for one 8-task
UDF stage however few rows it sees. The package's ``_zipguard`` (installed
on import) skips that re-read while the archive is unchanged, but only in
workers that import the package. Hence the rule for package UDFs: the
body is a module-level function, wrapped with ``F.pandas_udf(fn, type)``
rather than decorated. cloudpickle then ships it by reference
(module + name) and the worker imports the package to resolve it; a
decorated body is not reachable by its name and ships by value, leaving
the worker unguarded.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import content_sha256

# extension -> language (mirrors ecosystem-slug switch normalizer.go:313-336)
_EXT_LANG = {
    "py": "python",
    "go": "go",
    "js": "javascript",
    "ts": "typescript",
    "rs": "rust",
    "java": "java",
    "rb": "ruby",
    "c": "c",
    "h": "c",
    "cpp": "cpp",
    "md": "markdown",
    "yaml": "yaml",
    "yml": "yaml",
    "json": "json",
    "txt": "text",
}

# content-sniff fallbacks, checked in order (first match wins)
_CONTENT_HINTS = [
    ("python", ("def ", "import ", "class ")),
    ("go", ("func ", "package ")),
    ("javascript", ("function ", "const ", "=>")),
    ("rust", ("fn ", "let mut ")),
]


def _detect_lang(path: pd.Series, content: pd.Series) -> pd.Series:
    """Vectorized language detection: file extension first, then content
    sniffing, else 'text'. Arrow-batched; no per-row Python UDF.
    Null path+content (already-resolved rows, nulled JVM-side) -> null."""
    unresolved = path.isna() & content.isna()
    ext = path.str.rsplit(".", n=1).str[-1].str.lower()
    lang = ext.map(_EXT_LANG)
    missing = lang.isna()
    if missing.any():
        c = content[missing].fillna("")
        sniffed = pd.Series("text", index=c.index)
        decided = pd.Series(False, index=c.index)
        for name, needles in _CONTENT_HINTS:
            hit = pd.Series(False, index=c.index)
            for n in needles:
                hit |= c.str.contains(n, regex=False)
            pick = hit & ~decided
            sniffed[pick] = name
            decided |= hit
        lang[missing] = sniffed
    lang = lang.fillna("text")
    lang[unresolved] = None
    return lang


# module-level body, so the UDF pickles by reference (see module docstring)
detect_lang_udf = F.pandas_udf(_detect_lang, T.StringType())


# package-manager slug -> ecosystem (normalizer.go:313-336, the switch in
# extractEcosystemFromPackageSlug); anything unmapped falls through to the
# segment itself (the reference's `default: return first`)
_SLUG_ECOSYSTEM = {
    "gem": "rubygems",
    "ruby": "rubygems",
    "npm": "npm",
    "node": "npm",
    "pip": "pypi",
    "python": "pypi",
    "pypi": "pypi",
    "go": "go",
    "golang": "go",
    "maven": "maven",
    "java": "maven",
    "nuget": "nuget",
    "dotnet": "nuget",
    ".net": "nuget",
}


def ecosystem_from_slug(slug: Column | str) -> Column:
    """First path segment, lowered, mapped through the package-manager dim —
    the chained-when form of
    /root/reference/internal/merger/normalizer.go:313-336. Unmapped slugs
    return the segment itself (reference `default:` branch); an empty slug
    returns '' exactly as the reference does (Go Split never yields an
    empty slice, so the 'unknown' branch there is unreachable)."""
    c = F.col(slug) if isinstance(slug, str) else slug
    seg = F.lower(F.split(c, "/")[0])
    mapping = F.create_map(
        *[F.lit(x) for kv in _SLUG_ECOSYSTEM.items() for x in kv]
    )
    return F.coalesce(mapping[seg], seg)


def summary_truncate(details: Column | str, max_len: int = 100) -> Column:
    """First-sentence-or-100-chars summary
    (/root/reference/internal/merger/normalizer.go:339-356): if the text fits,
    keep it; else prefer the first sentence if it fits; else hard-truncate
    with '...'."""
    d = F.col(details) if isinstance(details, str) else details
    # the length gate is on the BARE sentence (reference: len(sentences[0])
    # <= 100, then returns sentences[0]+".") — a 100-char first sentence
    # yields a 101-char summary, exactly like the reference
    bare = F.split(d, "\\. ")[0]
    return (
        F.when(F.length(d) <= max_len, d)
        .when(F.length(bare) <= max_len, F.concat(bare, F.lit(".")))
        .otherwise(F.concat(F.substring(d, 1, max_len - 3), F.lit("...")))
    )


# total order for last-writer-wins: (commit_seq, commit, op) — deterministic
# at any parallelism (SURVEY.md §7.3 #2)
LWW_ORDER_COLS = ("commit_seq", "commit", "op")


def _reject_reason() -> Column:
    """Null for a valid event, else a reason slug. The single source of
    truth for event validity: ``normalize_events`` keeps the null-reason
    rows, ``reject_events`` keeps the rest (dead-letter queue)."""
    return (
        F.when(
            F.col("repo").isNull() | (F.col("repo") == ""), "missing_repo"
        )
        .when(F.col("path").isNull() | (F.col("path") == ""), "missing_path")
        .when(~F.coalesce(
            F.col("op").isin("insert", "update", "delete"), F.lit(False)
        ), "bad_op")
        .when(F.col("commit_seq").isNull(), "missing_commit_seq")
    )


def reject_events(events: DataFrame) -> DataFrame:
    """The rows ``normalize_events`` drops, each with a ``reject_reason``
    column — route to a dead-letter sink instead of losing them silently
    (reference analog: per-record validation skip + stats accounting,
    /root/reference/internal/handlers/gitlab/fetcher.go:291-311)."""
    return events.withColumn("reject_reason", _reject_reason()).filter(
        F.col("reject_reason").isNotNull()
    )


def validate_events(events: DataFrame) -> DataFrame:
    """Required-field validation only (drop events missing key/op —
    reference analog: required-field filters, osv/fetcher.go:539-541).
    Must run BEFORE any LWW reduce: an invalid row may carry the highest
    sequence for its key, and dropping it after the reduce would lose the
    valid runner-up."""
    return events.filter(_reject_reason().isNull())


def enrich_events(events: DataFrame) -> DataFrame:
    """Derived per-row columns:

    * fill missing ``lang`` via the vectorized detector (never on deletes),
    * compute ``content_sha256`` (the per-row invariant column).

    Row-local and independent of the LWW order/key columns, so the batch
    pipeline applies it AFTER the LWW reduce: the sniff's Arrow round
    trip and the sha256 then run on one row per KEY instead of every
    event, and the 64-char sha never rides the reduce shuffle (at 10^10
    events per batch that is the difference between hashing the log and
    hashing the state)."""
    # lang resolution ladder: existing value -> JVM-side extension map ->
    # pandas-UDF content sniff. The UDF's input columns are NULLED OUT
    # JVM-side for rows already resolved, so Arrow ships ~nothing to Python
    # on the common path (a full `content` column transfer at 10^10 rows
    # would dominate the batch runtime).
    ext = F.lower(F.element_at(F.split("path", "\\."), -1))
    ext_map = F.create_map(*[F.lit(x) for kv in _EXT_LANG.items() for x in kv])
    jvm_lang = F.coalesce(F.col("lang"), ext_map[ext])
    needs_sniff = jvm_lang.isNull() & (F.col("op") != "delete")
    sniffed = detect_lang_udf(
        F.when(needs_sniff, F.col("path")), F.when(needs_sniff, F.col("content"))
    )
    ev = events.withColumn(
        "lang",
        F.when(F.col("op") == "delete", F.lit(None).cast("string")).otherwise(
            F.coalesce(jvm_lang, sniffed)
        ),
    )
    return ev.withColumn("content_sha256", content_sha256(F.col("content")))


def normalize_events(events: DataFrame) -> DataFrame:
    """Canonicalize a raw change-event batch: validate required fields,
    fill ``lang``, compute ``content_sha256``
    (= ``enrich_events(validate_events(events))``; the batch pipeline
    calls the two halves separately so enrichment runs on the reduced
    winner set — see ``enrich_events``)."""
    return enrich_events(validate_events(events))
