"""Composed training-corpus preparation: one call takes a
raw document table to a deduplicated, filtered, split-labelled corpus.

    exact dedup (sha256 keep-min-id)
      → quality score + language ID (pure column exprs)
      → threshold / language filter
      → near-dup dedup: MinHash-LSH candidates → transitive clusters →
        keep each cluster's canonical doc
      → deterministic train/val/test hash split

Scale shape: every stage is one of the already-bounded operators — the
exact dedup is a hash groupBy (one shuffle), the near-dup path is the
banded candidate join with default hot-bucket caps (never all-pairs), the
cluster closure is label propagation with O(#docs) state, and the split
is a stateless hash. Nothing in the composition adds a driver-side loop
or an unbounded term; the whole pipeline over 100 TB is a handful of
key-proportional shuffles. (Reference analog: the validate→dedup→merge
record flow of the sync loop, /root/reference/internal/jobs/
server.go:864-907, re-targeted at documents instead of advisories.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_score
from ..operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_lsh_candidates,
)
from ..operators.corpus import hash_split


def prepare_training_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.4,
    languages: tuple[str, ...] = ("en",),
    neardup: bool = True,
    minhash_k: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 2000,
    min_similarity: float = 0.5,
    split_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Returns one row per KEPT document: (id_col, pred_lang, quality,
    split). Quality is rounded to 4 decimals BEFORE thresholding so the
    filter decision is engine-portable (the same rounded value an
    external oracle computes); near-dup clustering keeps each cluster's
    min-id member. Stage order matters and is part of the contract:
    exact dedup first (cheapest), filters second (shrink the expensive
    near-dup input), near-dup third, split last (splits are assigned to
    surviving docs only — the hash makes them stable if upstream stages
    change)."""
    d1 = exact_dedup(docs, text_col, id_col).select(id_col, text_col)
    # distinct tokens and per-bank hit counts in their own projections:
    # the argmax when-chain then compares attributes instead of
    # re-running the token split per bank reference (functions/text.py
    # lang_id_from_hits)
    from ..functions.text import (
        STOPWORDS,
        distinct_tokens,
        lang_id_from_hits,
        stopword_hits_from_tokens,
    )

    scored = (
        d1.select(
            F.col(id_col),
            F.col(text_col),
            F.round(quality_score(text_col), 4).alias("quality"),
            distinct_tokens(text_col).alias("_toks"),
        )
        .select(
            id_col,
            text_col,
            "quality",
            *[
                stopword_hits_from_tokens(F.col("_toks"), lang).alias(
                    f"_h_{lang}"
                )
                for lang in STOPWORDS
            ],
        )
        .select(
            id_col,
            text_col,
            "quality",
            lang_id_from_hits(
                {lang: F.col(f"_h_{lang}") for lang in STOPWORDS}
            ).alias("pred_lang"),
        )
    )
    d2 = scored.filter(
        (F.col("quality") >= min_quality)
        & F.col("pred_lang").isin(list(languages))
    )
    if neardup:
        # cluster VERIFIED pairs, not raw band candidates: an LSH band
        # collision is a probe, and transitively closing probes over a
        # templated corpus chains everything into one cluster. The
        # est_jaccard threshold is the verification step (exact multiples
        # of 1/k — no float-boundary ambiguity across engines).
        pairs = minhash_lsh_candidates(
            d2.select(id_col, text_col),
            text_col,
            id_col,
            k=minhash_k,
            bands=bands,
            max_bucket_size=max_bucket_size,
        ).filter(F.col("est_jaccard") >= min_similarity)
        clusters = dedup_clusters(
            pairs, all_ids=d2.select(id_col), id_col=id_col
        )
        d2 = d2.join(
            clusters.filter(F.col("is_keeper")).select(id_col),
            id_col,
            "left_semi",
        )
    return hash_split(
        d2.select(id_col, "pred_lang", "quality"),
        id_col,
        weights=split_weights,
    )
