"""Catalog ↔ DuckDB oracle parity at sf0.001: each catalog entry's Spark
result must equal its oracle SQL's, compared column by column after
sorting (an entry without oracle SQL only has to run)."""

import math

import duckdb
import pytest

from vuln_datasync_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9) + 0.0)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], out


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


@pytest.mark.parametrize("qd", QUERIES, ids=[qd.name for qd in QUERIES])
def test_query_parity(spark, con, qd):
    sdf = qd.spark_fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    if qd.sql is None:
        assert len(srows) >= 0  # rows-only contract: runs and returns
        return
    res = con.execute(qd.sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    sc, sv = canon(srows, sdf.columns)
    dc, dv = canon(drows, dcols)
    assert sc == dc, f"columns differ: {sc} vs {dc}"
    assert sv == dv, f"{len(sv)} vs {len(dv)} rows; first diffs: " + str(
        [(a, b) for a, b in zip(sv, dv) if a != b][:3]
    )
