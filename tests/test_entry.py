"""Entry-point contract (__spark_entry__.py): entry() replays the flagship
changelog to the pandas oracle's final state, queries() names every
catalog entry, the CDC engine's among them, and oracle_sql() covers every
entry that has oracle SQL."""

import pandas as pd

from __spark_entry__ import entry, oracle_sql, queries
from vuln_datasync_spark.datagen import generate_changelog_pandas, replay_oracle
from vuln_datasync_spark.plans.queries import QUERIES

CDC_ENTRIES = {
    "m3_partial_update_lww",
    "src_debezium_parse",
    "src_maxwell_parse",
    "cdc_change_feed",
    "meta_count_rows",
    "dq_validate_report",
}


def test_entry_matches_oracle_per_repo(spark):
    final = replay_oracle(generate_changelog_pandas(6000, seed=42))
    final["checksum"] = [int(h[:15], 16) for h in final.content_sha256]
    want = (
        final.assign(nbytes=final.content.str.len())
        .groupby("repo")
        .agg(
            n_files=("path", "size"),
            max_seq=("commit_seq", "max"),
            total_bytes=("nbytes", "sum"),
            content_checksum=("checksum", "sum"),
        )
        .reset_index()
    )
    got = entry(spark).toPandas()
    got["content_checksum"] = got.content_checksum.map(int)
    assert list(got.repo) == sorted(got.repo)
    cols = ["repo", "n_files", "max_seq", "total_bytes", "content_checksum"]
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].sort_values("repo").reset_index(drop=True),
        check_dtype=False,
    )


def test_queries_and_oracle_sql_name_the_catalog():
    names = [qd.name for qd in QUERIES]
    assert list(queries()) == names
    assert CDC_ENTRIES <= set(names)
    assert set(oracle_sql()) == {qd.name for qd in QUERIES if qd.sql is not None}
    assert CDC_ENTRIES <= set(oracle_sql())
