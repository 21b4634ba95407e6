"""Changelog source: incremental batch reads by commit sequence (P9/S6)."""

from pyspark.sql import functions as F

from vuln_datasync_spark.sources.changelog import read_changelog_batch


def test_changelog_incremental_read(spark, tmp_path):
    from vuln_datasync_spark.datagen import generate_changelog_pandas, write_changelog

    ev = generate_changelog_pandas(1000, seed=5)
    write_changelog(ev, str(tmp_path / "log"), n_files=2)
    full = read_changelog_batch(spark, str(tmp_path / "log"))
    inc = read_changelog_batch(spark, str(tmp_path / "log"), since_seq=500)
    assert full.count() == len(ev)
    assert inc.agg(F.min("commit_seq")).first()[0] == 501
