"""BPE tokenizer induction over a corpus — the tokenizer-training step of
a training-data pipeline (Sennrich et al. 2016 byte-pair encoding),
expressed Spark-first.

Scale shape (the part that matters at 100 TB): learning never iterates
over the corpus. The corpus is reduced ONCE to the word-frequency table
(one shuffle, rows = distinct words ≪ corpus bytes); every merge
iteration then runs on that table alone — adjacent-pair counts via an
``arrays_zip``/``explode`` + hash-agg (shuffle ∝ distinct words), the
argmax pair collected as ONE driver row, and the merge applied with an
Arrow-batched pandas UDF over the word table. The learned merge list is
tiny (``n_merges`` rows). Encoding a corpus with the learned merges is
map-only: ranks broadcast inside the UDF closure, per-word memoization
within each Arrow batch, no shuffle.

Determinism: pair ties break by (count desc, left asc, right asc) — a
total order — so the merge sequence is identical at ANY parallelism
(tested repartition(1) vs repartition(13)) and matches the pure-Python
reference implementation token for token.

Reference analog: none in vuln-datasync (pure §2.12 training-data
surface); the end-of-word sentinel convention follows the public BPE
literature (``</w>``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"  # end-of-word sentinel, kept as its own starting symbol


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) over whitespace-split, lowercased text — the ONLY pass
    over the corpus; everything after runs at vocabulary scale."""
    return (
        df.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _symbols_expr():
    # word -> [c1, c2, ..., ck, </w>]
    return F.concat(
        F.split(F.col("word"), ""), F.array(F.lit(EOW))
    ).alias("symbols")


def learn_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge list [(left, right), ...]; stops early when no adjacent pair
    reaches ``min_freq``. Each iteration: one vocabulary-scale hash-agg +
    a single-row collect + one Arrow-batched merge application."""
    words = (
        word_counts(df, text_col)
        .select(_symbols_expr(), "n")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            words.select(
                "n",
                F.explode(
                    F.arrays_zip(
                        F.slice(
                            "symbols", 1, F.size("symbols") - 1
                        ).alias("l"),
                        F.slice(
                            "symbols", 2, F.size("symbols") - 1
                        ).alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_freq:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right))

        def apply_one(
            batches: Iterator[pd.DataFrame], _l=left, _r=right
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for syms in pdf["symbols"]:
                    syms = list(syms)
                    i, merged = 0, []
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == _l
                            and syms[i + 1] == _r
                        ):
                            merged.append(_l + _r)
                            i += 2
                        else:
                            merged.append(syms[i])
                            i += 1
                    out.append(merged)
                yield pd.DataFrame({"symbols": out, "n": pdf["n"]})

        # localCheckpoint per iteration: keeps the plan flat (no k-deep
        # UDF lineage) and the data is vocabulary-scale, not corpus-scale.
        # A superseded generation's checkpoint blocks stay in the block
        # manager until the ContextCleaner collects its unreferenced RDD;
        # DataFrame.rdd would build a new, never-persisted RDD, so there is
        # no handle here that could release them earlier.
        words = words.mapInPandas(
            apply_one, schema="symbols array<string>, n long"
        ).localCheckpoint(eager=True)
    return merges


def merges_table(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The learned merges as a (rank, left, right) frame — the artifact a
    tokenizer ships."""
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    )


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference greedy BPE encode of one word (lowest-rank merge first —
    the standard inference loop)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        syms[best : best + 2] = [syms[best] + syms[best + 1]]
    return syms


def apply_bpe(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list: map-only Arrow
    batches, merge ranks broadcast in the UDF closure, per-distinct-word
    memoization inside each batch (natural-language batches repeat words
    heavily). Output column is ``array<string>`` of subword tokens."""
    ranks = {m: i for i, m in enumerate(merges)}

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            for text in pdf[text_col]:
                row_tokens: list[str] = []
                for w in str(text).lower().split():
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = bpe_encode_word(w, ranks)
                    row_tokens.extend(got)
                toks.append(row_tokens)
            pdf = pdf.copy()
            pdf[out_col] = toks
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(op, schema=f"{schema}, {out_col} array<string>")


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Read a merge table written by ``merges_table(...)`` /
    CLI ``learn-bpe`` back into the ordered list ``apply_bpe`` takes.
    Merge tables are tiny (n_merges rows) — driver-side by design."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["left"], r["right"]) for r in rows]
