"""LWW resolution: the one resolver picks the winners of the pandas
oracle, ties are deterministic at any parallelism, duplicates collapse
(SURVEY.md §2.6 / §7.3 #2-3)."""

import pandas as pd
from pyspark.sql import functions as F

from vuln_datasync_spark.datagen import generate_changelog_pandas
from vuln_datasync_spark.operators.lww import lww_resolve


def _fingerprint(df):
    """Order-free digest of every column of every row."""
    return (
        df.select(
            F.sha2(F.to_json(F.struct(*sorted(df.columns))), 256).alias("h")
        )
        .agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")))
        .first()[0]
    )


def _winners(ev):
    """Oracle: the last event per key by (commit_seq, commit, op)."""
    return (
        ev.sort_values(["commit_seq", "commit", "op"], kind="stable")
        .groupby(["repo", "path"], sort=False)
        .tail(1)
    )


def test_resolver_matches_oracle(spark):
    ev = generate_changelog_pandas(4000, seed=7)
    cols = ["repo", "path", "commit_seq", "commit", "op", "content"]
    got = lww_resolve(spark.createDataFrame(ev)).select(*cols).collect()
    assert sorted(map(tuple, got)) == sorted(
        map(tuple, _winners(ev)[cols].itertuples(index=False))
    )


def test_parallelism_invariance(spark):
    ev = generate_changelog_pandas(3000, seed=11)
    # copies of 60 winners that tie on (commit_seq, commit, op) and
    # differ only in a payload column: the resolver's last tie-break
    # must pick the same copy however the rows arrive
    ties = _winners(ev).head(60)
    copies = [ties.assign(size_bytes=s) for s in (240, 7, 99)]
    df = spark.createDataFrame(pd.concat([ev, *copies], ignore_index=True))
    a = _fingerprint(lww_resolve(df.repartition(1)))
    b = _fingerprint(lww_resolve(df.repartition(17)))
    c = _fingerprint(lww_resolve(df.repartition(17)))
    assert a == b == c


def test_duplicates_collapse_and_one_row_per_key(spark):
    ev = generate_changelog_pandas(3000, seed=13)
    df = spark.createDataFrame(ev)
    won = lww_resolve(df).cache()
    n_keys = df.select("repo", "path").distinct().count()
    assert won.count() == n_keys
    # winner per key == max (commit_seq, commit, op) among that key's events
    got = {(r["repo"], r["path"]): r["commit_seq"] for r in won.collect()}
    for _, row in _winners(ev).iterrows():
        assert got[(row.repo, row.path)] == row.commit_seq
    won.unpersist()
