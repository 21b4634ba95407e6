"""Last-writer-wins resolution per key — the engine's core reduce.

Reference semantics: every upsert overwrites the full row, so the final state
is the event with the greatest sequence per key
(/root/reference/sql/vulnerabilities.sql:66-90 — ON CONFLICT DO UPDATE;
/root/reference/internal/merger/normalizer.go:408-411 — most-recent wins).

One resolver over one total order (``lww_order``), winner first:

1. ``(commit_seq, commit, op)`` descending;
2. the arrival rank (``ARRIVAL``) ascending, so the EARLIEST copy of an
   exact tie wins. The sink sets it through ``rank_arrivals``: base files
   before merge-on-read log files, logs in the commit order the manifest
   records, the stored table before an incoming batch. A duplicate event
   that arrives again (perhaps with a column added since) never replaces
   the stored copy, so a merge-on-read and a copy-on-write table fed the
   same batches hold the same rows;
3. inside one batch, which has no arrival order, ``xxhash64`` of the
   remaining columns ascending: a content hash keeps the last tie
   deterministic at any partitioning and on a rerun without a source
   position, so in-memory frames resolve the same way as file scans.
   Every ranked part holds at most one row per key (a batch's winners, or
   a resolved base), so there the rank ends every tie and no row is
   hashed: hashing the payload of a copy-on-write target cost ~9% of
   ``stream_upsert``'s ``events_per_cpu_s``.

``lww_resolve`` keeps ``row_number() = 1`` of a window partitioned by key
and ordered this way: one shuffle by key, then a sort within it.
``lww_resolve_partial`` is its sparse-update form over the same order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.normalize import LWW_ORDER_COLS

KEY_COLS = ("repo", "path")
# internal arrival-rank column: the resolvers drop it, so it never reaches
# a written file or a read
ARRIVAL = "_arrival"


def rank_arrivals(parts: list[DataFrame]) -> DataFrame:
    """Union ``parts``, earliest arrival first, tagging every row with its
    part's index in ``ARRIVAL``."""
    out = None
    for i, p in enumerate(parts):
        p = p.withColumn(ARRIVAL, F.lit(i))
        out = p if out is None else out.unionByName(p)
    return out


def lww_order(
    df: DataFrame, key_cols: tuple[str, ...], winner_first: bool = True
) -> list[Column]:
    """Sort expressions of the LWW total order within a key of ``df``
    (module docstring), winner first; ``winner_first=False`` is the exact
    reverse, for frames that run up to the winner."""
    new, old = (F.desc, F.asc) if winner_first else (F.asc, F.desc)
    order = [new(c) for c in LWW_ORDER_COLS]
    if ARRIVAL in df.columns:
        return order + [old(ARRIVAL)]
    rest = [
        f.name
        for f in df.schema.fields
        if f.name not in (*key_cols, *LWW_ORDER_COLS)
        # xxhash64 rejects map values
        and "map<" not in f.dataType.simpleString()
    ]
    return order + [old(F.xxhash64(*rest))] if rest else order


def lww_resolve(
    events: DataFrame,
    key_cols: tuple[str, ...] = KEY_COLS,
    *,
    mode: str = "window",
) -> DataFrame:
    """Reduce a change-event batch to one winning event per key.

    Input: normalized events (must contain key_cols + LWW_ORDER_COLS).
    Output: one row per key, the input columns without ``ARRIVAL``.

    ``mode`` accepts only ``"window"`` and raises on anything else. It is
    kept only because perfbench's traced run passes it; the next benchmark
    revision drops that argument and this keyword."""
    if mode != "window":
        raise ValueError(f"unknown lww mode: {mode}")
    w = W.partitionBy(*key_cols).orderBy(*lww_order(events, key_cols))
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", ARRIVAL)
    )


def lww_resolve_partial(
    events: DataFrame, key_cols: tuple[str, ...] = KEY_COLS
) -> DataFrame:
    """Per-key LWW where null payload columns mean "unchanged": the winner
    row (max order) takes each payload column from the LATEST non-null
    value in order (Debezium-style sparse/partial update events; reference
    analog: field-wise coalesce merge, the reference's internal/merger).

    Semantics per key, events in ``lww_order``:

    * order columns + ``is_deleted`` always come from the winning event;
    * every other column c = last non-null c among NON-deleted events
      (tombstoned versions never contribute payload — a revive after a
      delete starts from the reviving event's own values);
    * a winning tombstone keeps its own (nulled) payload — deletes stay
      deletes;
    * ``content_sha256`` is recomputed from the final ``content`` so the
      per-row invariant sha256(content) holds on the MERGED row, not the
      sparse event.

    One shuffle (both window specs share the partitioning); per-key state
    is the window frame — in the merge path the union has <= 2 rows per
    key (stored winner + batch winner), so the sort is constant-size."""
    from ..functions.hashing import content_sha256

    fill_cols = [
        c
        for c in events.columns
        if c not in (*key_cols, *LWW_ORDER_COLS, "is_deleted", ARRIVAL)
    ]
    w_rank = W.partitionBy(*key_cols).orderBy(*lww_order(events, key_cols))
    w_fill = (
        W.partitionBy(*key_cols)
        .orderBy(*lww_order(events, key_cols, winner_first=False))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    dead = F.lit(False)
    if "is_deleted" in events.columns:
        dead = dead | F.coalesce(F.col("is_deleted"), F.lit(False))
    if "op" in events.columns:
        dead = dead | (F.coalesce(F.col("op"), F.lit("")) == "delete")
    alive = ~dead
    df = events
    for c in fill_cols:
        df = df.withColumn(
            f"_f_{c}",
            F.last(F.when(alive, F.col(c)), ignorenulls=True).over(w_fill),
        )
    df = df.withColumn("_rn", F.row_number().over(w_rank)).filter(
        F.col("_rn") == 1
    )
    for c in fill_cols:
        df = df.withColumn(
            c, F.when(alive, F.col(f"_f_{c}")).otherwise(F.col(c))
        ).drop(f"_f_{c}")
    df = df.drop("_rn", ARRIVAL)
    if "content_sha256" in df.columns and "content" in df.columns:
        df = df.withColumn("content_sha256", content_sha256(F.col("content")))
    return df
