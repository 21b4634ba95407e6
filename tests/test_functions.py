"""Unit tests for scalar/vectorized functions (SURVEY.md §2.9)."""

from vuln_datasync_spark.functions.normalize import detect_lang_udf, summary_truncate


def test_detect_lang(spark):
    rows = [
        ("a/b.py", None),
        ("a/b.go", None),
        ("noext", "def main():\n import os"),
        ("noext2", "plain words only"),
    ]
    df = spark.createDataFrame(rows, ["path", "content"])
    got = [
        r[0]
        for r in df.select(detect_lang_udf("path", "content")).collect()
    ]
    assert got == ["python", "go", "python", "text"]


def test_summary_truncate(spark):
    rows = [
        ("short text.",),
        ("First sentence here. And then a much longer tail " + "x" * 200,),
        ("no sentence break at all " + "y" * 200,),
    ]
    df = spark.createDataFrame(rows, ["d"])
    got = [r[0] for r in df.select(summary_truncate("d")).collect()]
    assert got[0] == "short text."
    assert got[1] == "First sentence here."
    assert got[2].endswith("...") and len(got[2]) == 100
