"""Single-threaded pandas last-writer-wins oracle over the narrow columns
``(commit_seq, commit, op, repo, path)`` plus the generator's expected
content sha256, and the comparisons the benchmark gates on.

Every comparison returns the number of mismatched rows; the benchmark adds
them to ``failed`` and exits non-zero when any is found.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq

KEY = ["repo", "path"]
ROW = ["repo", "path", "commit_seq", "commit", "sha"]


def load_truth(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def lww_state(truth: pd.DataFrame) -> pd.DataFrame:
    """Winning event per key under the engine's total order
    (commit_seq, commit, op); includes tombstones (``op == 'delete'``)."""
    ev = truth.sort_values(["commit_seq", "commit", "op"], kind="stable")
    return ev.groupby(KEY, sort=False).tail(1).set_index(KEY)


def live_rows(state: pd.DataFrame) -> pd.DataFrame:
    """Rows a reader should see: winners that are not deletes."""
    live = state[state["op"] != "delete"]
    return live.reset_index()[ROW]


def _row_set(df: pd.DataFrame) -> set:
    return set(
        zip(df["repo"], df["path"], df["commit_seq"].astype("int64"),
            df["commit"], df["sha"])
    )


def table_rows(spark_df) -> pd.DataFrame:
    """Narrow projection of a table read, renamed to oracle columns."""
    return spark_df.select(
        "repo", "path", "commit_seq", "commit",
        spark_df["content_sha256"].alias("sha"),
    ).toPandas()


def count_mismatches(expected: pd.DataFrame, got: pd.DataFrame) -> int:
    """Rows present on one side only (a changed row counts twice: the
    expected version missing and the wrong version present)."""
    e, g = _row_set(expected), _row_set(got)
    return len(e ^ g) + (len(got) - len(g))  # duplicates in got are wrong


def lookup_mismatches(live: pd.DataFrame, keys: list[tuple],
                      rows: list) -> int:
    """Compare collected ``lookup`` Rows with the oracle for ``keys``."""
    want = live.set_index(KEY).loc[
        lambda d: d.index.isin(keys)
    ].reset_index()
    got = pd.DataFrame(
        [(r["repo"], r["path"], r["commit_seq"], r["commit"],
          r["content_sha256"]) for r in rows],
        columns=ROW,
    )
    return count_mismatches(want, got)


def expected_changes(before: pd.DataFrame, after: pd.DataFrame) -> set:
    """(repo, path, change_type, commit_seq) the change feed between two
    oracle states must report; commit_seq is the new one for inserts and
    updates and the old one for deletes."""
    b = before[before["op"] != "delete"]
    a = after[after["op"] != "delete"]
    out = set()
    for k in a.index.difference(b.index):
        out.add((*k, "insert", int(a.at[k, "commit_seq"])))
    for k in b.index.difference(a.index):
        out.add((*k, "delete", int(b.at[k, "commit_seq"])))
    both = a.index.intersection(b.index)
    changed = both[
        (a.loc[both, "commit_seq"].values != b.loc[both, "commit_seq"].values)
        | (a.loc[both, "commit"].values != b.loc[both, "commit"].values)
    ]
    for k in changed:
        out.add((*k, "update", int(a.at[k, "commit_seq"])))
    return out


def change_mismatches(expected: set, rows: list) -> int:
    got = [(r["repo"], r["path"], r["_change_type"], int(r["commit_seq"]))
           for r in rows]
    return len(expected ^ set(got)) + (len(got) - len(set(got)))
