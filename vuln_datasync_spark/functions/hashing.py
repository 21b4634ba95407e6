"""Content hashing — a pure column expression (JVM-side).

Reference parity: sha256 of the canonical content string
(reference internal/merger/normalizer.go:359-372) — engine invariant
per input_hint is sha256(content) row equality.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def content_sha256(col: Column | str) -> Column:
    """Hex sha256 of a string column; null-safe (null -> null)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.sha2(c, 256))
