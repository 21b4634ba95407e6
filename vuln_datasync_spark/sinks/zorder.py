"""Z-order (Morton) interleave key for multi-dimension clustering.

A linear sort gives zone maps one prunable dimension; interleaving the
bits of several columns gives locality in ALL of them at once, so a
``cluster(zorder=[a, b])`` rewrite lets ``read(range_filters=...)``
skip files for predicates on a alone, b alone, or both — the Delta
OPTIMIZE ZORDER BY analog. Reference analog: the reference keeps
separate B-tree indexes per query column
(/root/reference/migrations/001_initial_schema.up.sql:44-52); columnar
storage can't afford per-column orderings, so one interleaved ordering
serves them all approximately.

Construction: each column is min-max scaled to ``bits``-bit rank space
(bounds come from the manifest's own zone maps — driver metadata, no
scan), then bits are interleaved LSB-first into a single long. Pure
column expressions: stays inside whole-stage codegen, no UDF, and the
scale cost is a handful of shifts per row inside the (already paid)
clustering rewrite.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def global_bounds(manifest: dict, cols: list[str]) -> dict:
    """Per-column (min, max) across all files, from the manifest's
    file_meta zone maps — no data I/O. Raises if a column has no
    stats (non-numeric / never written).

    A zone with no upper bound (a float file holding NaN) offers its
    lower bound as a max candidate: NaN and any larger value clamp to
    the top rank, so the key stays correct, only coarser above it."""
    fm = manifest.get("file_meta", {})
    out: dict[str, tuple] = {}
    for c in cols:
        mn = mx = None
        for meta in fm.values():
            ent = meta.get("cols", {}).get(c)
            if not ent:
                continue
            lo, hi = ent
            if lo is not None and (mn is None or lo < mn):
                mn = lo
            if hi is None:
                hi = lo
            if hi is not None and (mx is None or hi > mx):
                mx = hi
        if mn is None or mx is None:
            raise ValueError(
                f"zorder: no zone-map bounds for column {c!r} — z-order "
                "needs numeric/timestamp columns with file stats"
            )
        out[c] = (mn, mx)
    return out


def _scaled(col_name: str, lo, hi, bits: int, dtype: T.DataType) -> F.Column:
    top = (1 << bits) - 1
    t = dtype.typeName()
    if t in ("timestamp", "date"):
        # zone maps store ISO strings (lexicographic == chronological);
        # scale in epoch-micros space
        c = F.unix_micros(F.col(col_name).cast("timestamp")).cast("double")
        lo_v = F.unix_micros(
            F.lit(str(lo).replace("T", " ")).cast("timestamp")
        ).cast("double")
        hi_v = F.unix_micros(
            F.lit(str(hi).replace("T", " ")).cast("timestamp")
        ).cast("double")
        span = hi_v - lo_v
        frac = F.when(span > 0, (c - lo_v) / span).otherwise(F.lit(0.0))
    else:
        c = F.col(col_name).cast("double")
        span = float(hi) - float(lo)
        if span <= 0:
            return F.lit(0).cast("long")
        frac = (c - F.lit(float(lo))) / F.lit(span)
    frac = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
    scaled = F.floor(frac * F.lit(float(top))).cast("long")
    # nulls sort first, deterministically
    return F.coalesce(scaled, F.lit(0).cast("long"))


def zorder_expr(
    cols: list[str],
    bounds: dict,
    schema: T.StructType,
    bits: int = 16,
) -> F.Column:
    """The interleaved sort key: bit b of column i lands at position
    ``b * n_cols + i``. ``n_cols * bits`` must fit a signed long."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs at least 2 columns")
    if n * bits > 62:
        raise ValueError(
            f"zorder: {n} cols x {bits} bits exceeds a long; lower bits"
        )
    by_name = {f.name: f.dataType for f in schema.fields}
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        s = _scaled(c, lo, hi, bits, by_name[c])
        for b in range(bits):
            key = key + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return key
