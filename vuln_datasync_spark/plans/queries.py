"""Query catalog: every SURVEY.md §2 operator as a (Spark impl, DuckDB
oracle SQL) pair over the driver's testdata tables.

Contract (driver, __spark_entry__.py): each Spark callable takes
(spark, sf_dir) and returns a DataFrame whose column NAMES and VALUES match
the oracle SQL run by DuckDB on the same parquet files. The driver hashes
values after sorting columns by name, so:

  * every computed column is aliased identically on both sides,
  * double aggregates are rounded (cross-engine bit drift),
  * every top-k has a unique total-order tiebreak,
  * timestamps are emitted as formatted strings where they appear.

Entries with ``sql=None`` are genuinely non-SQL-expressible (vectorized UDF
paths, engine-internal ops) and get the driver's weaker rows-only check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.normalize import summary_truncate
from ..session import ensure_shipped


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fan(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's task slots before a
    compute-heavy map stage (per-row md5/shingle/codec work).

    The fixture tables are single-file, single-row-group parquet —
    UNSPLITTABLE, so every scan starts at exactly one task no matter how
    many cores the session has and the whole map stage runs serially
    (the "one huge unsplittable file" input-skew case). A round-robin
    repartition to ``defaultParallelism`` is a tiny shuffle of the scan
    output that unlocks full parallelism for the expensive stage above
    it. Scale-adaptive, not a local constant: when the input already has
    at least as many partitions as the session has slots (any real
    multi-file table), this is a NO-OP — no exchange is added."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


@dataclass
class QueryDef:
    name: str
    survey_ref: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]
    note: str = ""


QUERIES: list[QueryDef] = []


def q(name: str, survey_ref: str, sql: Optional[str], note: str = ""):
    def deco(fn):
        QUERIES.append(QueryDef(name, survey_ref, fn, sql, note))
        return fn

    return deco


# ---------------------------------------------------------------- aggregates


@q(
    "a1_total_count",
    "A1 sql/vulnerabilities.sql:104-105",
    "SELECT count(*) AS n FROM lineitem",
)
def a1(spark, sf):
    return _t(spark, sf, "lineitem").agg(F.count("*").alias("n"))


@q(
    "a2_count_by_source",
    "A2 sql/vulnerabilities.sql:107-113",
    """SELECT source, count(*) AS cnt FROM documents
       GROUP BY source ORDER BY cnt DESC, source""",
)
def a2(spark, sf):
    return (
        _t(spark, sf, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "source")
    )


@q(
    "a3_count_by_ecosystem",
    "A3 sql/vulnerabilities.sql:115-120",
    """SELECT lang, count(*) AS cnt FROM documents
       WHERE lang IS NOT NULL GROUP BY lang ORDER BY cnt DESC, lang""",
)
def a3(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "lang")
    )


@q(
    "a4_multi_metric_stats",
    "A4 migrations/001_initial_schema.up.sql:132-144",
    """SELECT count(*) AS total,
              count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
              count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
              count(DISTINCT o_custkey) AS n_customers,
              strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_order,
              strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_order
       FROM orders""",
)
def a4(spark, sf):
    return _t(spark, sf, "orders").agg(
        F.count("*").alias("total"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_order"
        ),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_order"
        ),
    )


@q(
    "a5_state_pivot_counts",
    "A5 sql/jobs.sql:43-50",
    """SELECT o_orderpriority AS priority,
              count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
              count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
              count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
       FROM orders GROUP BY o_orderpriority ORDER BY priority""",
)
def a5(spark, sf):
    return (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
        )
        .orderBy("priority")
    )


@q(
    "a7_array_dedup_union",
    "A7 internal/merger/merger.go:254-275",
    """SELECT doc_id,
              array_to_string(list_sort(list_distinct(list_concat(
                  string_split(substring(text, 1, 60), ' '),
                  string_split(substring(text, 30, 60), ' ')))), ',') AS merged
       FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    note="order-preserving union checked sorted for cross-engine stability",
)
def a7(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    a = F.split(F.substring("text", 1, 60), " ")
    b = F.split(F.substring("text", 30, 60), " ")
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_union(a, b)), ",").alias("merged"),
    ).orderBy("doc_id")


# -------------------------------------------------------------------- joins


@q(
    "j1_priority_dedup_join",
    "J1 sql/vulnerabilities.sql:7-17 + merger.go:74-105",
    """SELECT l_orderkey, l_suppkey, round(l_extendedprice, 2) AS best_price
       FROM (SELECT l_orderkey, l_suppkey, l_extendedprice,
                    row_number() OVER (PARTITION BY l_orderkey
                        ORDER BY l_extendedprice DESC, l_suppkey) AS rn
             FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""",
    note="best-match-by-priority pick: ORDER BY CASE ... LIMIT 1 analog",
)
def j1(spark, sf):
    # best-per-key as a PARTIAL-AGGREGATING max over (price, -suppkey)
    # rather than a window row_number: the map side collapses the table
    # to one candidate per key per partition BEFORE the exchange, so the
    # shuffle carries ~keys rows instead of every row (guide: aggregate
    # before you shuffle). max(struct) == row_number@1 under
    # (price DESC, suppkey ASC) because struct comparison is
    # lexicographic and suppkey >= 0 makes -suppkey order-reversing.
    # Equivalence vs the window form verified row-exact (exceptAll both
    # ways empty) and against the oracle. Measured 1.7x faster at sf0.1.
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.max(
                F.struct(
                    F.col("l_extendedprice"),
                    (-F.col("l_suppkey")).alias("_ns"),
                )
            ).alias("_w")
        )
        .select(
            "l_orderkey",
            (-F.col("_w._ns")).cast("long").alias("l_suppkey"),
            F.round("_w.l_extendedprice", 2).alias("best_price"),
        )
        .orderBy("l_orderkey")
    )


@q(
    "j2_broadcast_dim_join",
    "J2 merger.go:46-71 (alias cache = broadcast hash join)",
    """SELECT r.r_name AS region, count(*) AS n_customers
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name ORDER BY region""",
)
def j2(spark, sf):
    c = _t(spark, sf, "customer")
    n = F.broadcast(_t(spark, sf, "nation"))
    r = F.broadcast(_t(spark, sf, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_customers"))
        .orderBy("region")
    )


@q(
    "j3_point_lookup_join",
    "J3 sql/vulnerabilities.sql:1-2",
    """SELECT o.o_orderkey, c.c_name, round(o.o_totalprice, 2) AS total
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE o.o_orderkey % 1000 = 0 ORDER BY o.o_orderkey""",
)
def j3(spark, sf):
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 1000 == 0)
    c = _t(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey", "c_name", F.round("o_totalprice", 2).alias("total")
        )
        .orderBy("o_orderkey")
    )


@q(
    "j4_hash_dedup_antijoin",
    "J4 sql/vulnerabilities.sql:34-35 (data_hash existence probe)",
    """SELECT d.doc_id FROM documents d
       JOIN (SELECT sha256(text) AS h, min(doc_id) AS keeper
             FROM documents GROUP BY sha256(text)) k
         ON sha256(d.text) = k.h
       WHERE d.doc_id = k.keeper ORDER BY d.doc_id""",
    note="keep one row per content hash — dedup-before-write",
)
def j4(spark, sf):
    d = _t(spark, sf, "documents").withColumn("h", F.sha2("text", 256))
    keep = d.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    return (
        d.join(keep, (d.h == keep.h) & (d.doc_id == keep.keeper), "left_semi")
        .select("doc_id")
        .orderBy("doc_id")
    )


@q(
    "j5_semi_join_exists",
    "J5 jobs/server.go:1004-1011 (containsSource guard)",
    """SELECT count(*) AS n FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""",
)
def j5(spark, sf):
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .agg(F.count("*").alias("n"))
    )


@q(
    "j6_anti_join_not_exists",
    "J5/J4 anti form",
    """SELECT count(*) AS n FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def j6(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n"))
    )


# ------------------------------------------------------- LWW / CDC semantics


@q(
    "m1_lww_last_event_per_user",
    "M1 sql/vulnerabilities.sql:66-90 (last writer wins per key)",
    """SELECT user_id, event_type AS last_type,
              round(value, 4) + 0.0 AS last_value, event_id AS last_event_id
       FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn FROM events)
       WHERE rn = 1 ORDER BY user_id""",
    note="the engine's LWW reduce in SQL-checkable form over `events`",
)
def m1(spark, sf):
    ev = _t(spark, sf, "events")
    won = ev.groupBy("user_id").agg(
        F.max(
            F.struct(
                "ts",
                "event_id",
                F.col("event_type").alias("et"),
                F.col("value").alias("v"),
            )
        ).alias("w")
    )
    return won.select(
        "user_id",
        F.col("w.et").alias("last_type"),
        (F.round("w.v", 4) + F.lit(0.0)).alias("last_value"),
        F.col("w.event_id").alias("last_event_id"),
    ).orderBy("user_id")


@q(
    "m2_cdc_lww_tombstones",
    "M1+S14 delete semantics (tombstones, SURVEY §7.3 #5)",
    """SELECT user_id, event_id AS last_event_id
       FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn FROM events)
       WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""",
    note="'error' as the delete op: tombstoned keys drop out of final state",
)
def m2(spark, sf):
    ev = _t(spark, sf, "events")
    won = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", F.col("event_type").alias("et"))).alias("w")
    )
    return (
        won.filter(F.col("w.et") != "error")
        .select("user_id", F.col("w.event_id").alias("last_event_id"))
        .orderBy("user_id")
    )


@q(
    "m3_partial_update_lww",
    "M4-analog on the changelog sink: sparse CDC events "
    "(operators/lww.py lww_resolve_partial; reference field-wise "
    "coalesce internal/merger)",
    """WITH s AS (
         SELECT user_id, event_id,
                CASE WHEN event_id % 3 <> 0 THEN value END AS v,
                CASE WHEN event_id % 2 <> 0 THEN event_type END AS et
         FROM events
       ), f AS (
         SELECT user_id, event_id,
                last_value(v IGNORE NULLS) OVER w AS fv,
                last_value(et IGNORE NULLS) OVER w AS fe,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY event_id DESC) AS rn
         FROM s
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
       )
       SELECT user_id, event_id AS last_event_id, fe AS last_type,
              round(fv, 4) + 0.0 AS last_value
       FROM f WHERE rn = 1 ORDER BY user_id""",
    note="every 3rd value / 2nd type nulled = 'unchanged'; the merged row "
    "coalesces each column to its last non-null by event order",
)
def m3p(spark, sf):
    from ..operators.lww import lww_resolve_partial

    ev = _t(spark, sf, "events").select(
        "user_id",
        F.col("event_id").alias("commit_seq"),
        F.lit("").alias("commit"),
        F.lit("update").alias("op"),
        F.when(F.col("event_id") % 3 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 2 != 0, F.col("event_type")).alias(
            "event_type"
        ),
    )
    out = lww_resolve_partial(ev, key_cols=("user_id",))
    return out.select(
        "user_id",
        F.col("commit_seq").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        (F.round("value", 4) + F.lit(0.0)).alias("last_value"),
    ).orderBy("user_id")


@q(
    "m8_content_hash",
    "M8 internal/merger/normalizer.go:359-372",
    """SELECT doc_id, sha256(text) AS content_sha256
       FROM documents ORDER BY doc_id""",
)
def m8(spark, sf):
    return (
        _t(spark, sf, "documents")
        .select("doc_id", F.sha2("text", 256).alias("content_sha256"))
        .orderBy("doc_id")
    )


# ------------------------------------------------------------ windows / sort


@q(
    "w1_running_total",
    "2.6 window (implicit ref windows made explicit)",
    """SELECT event_id, user_id,
              round(sum(value) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 3) + 0.0 AS running
       FROM events WHERE user_id < 20 ORDER BY event_id""",
)
def w1(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("user_id") < 20)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id", "user_id", (F.round(F.sum("value").over(w), 3) + F.lit(0.0)).alias("running")
    ).orderBy("event_id")


@q(
    "o1_topk_recent",
    "O1 sql/vulnerabilities.sql:22-32",
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od
       FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 100""",
)
def o1(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(100)
        .select(
            "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("od")
        )
    )


@q(
    "o3_priority_pickup",
    "O3 sql/jobs.sql:9-13",
    """SELECT o_orderkey, o_orderpriority FROM orders
       ORDER BY o_orderpriority DESC, o_orderdate ASC, o_orderkey LIMIT 50""",
)
def o3(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_orderpriority"), F.asc("o_orderdate"), "o_orderkey")
        .limit(50)
        .select("o_orderkey", "o_orderpriority")
    )


@q(
    "o5_recent_activity",
    "O5 migrations/001_initial_schema.up.sql:147-159 (24h view)",
    """SELECT event_type, count(*) AS cnt FROM events
       WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 24 HOURS
       GROUP BY event_type ORDER BY event_type""",
)
def o5(spark, sf):
    ev = _t(spark, sf, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("c")
    )
    return (
        ev.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("c"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


# ------------------------------------------------------------------ set ops


@q(
    "u1_multi_source_union",
    "U1 internal/jobs/server.go:136-139",
    """SELECT mkt, count(*) AS cnt FROM (
         SELECT c_mktsegment AS mkt FROM customer WHERE c_acctbal > 5000
         UNION ALL
         SELECT c_mktsegment AS mkt FROM customer WHERE c_acctbal < 0)
       GROUP BY mkt ORDER BY mkt""",
)
def u1(spark, sf):
    c = _t(spark, sf, "customer")
    hi = c.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_mktsegment").alias("mkt")
    )
    lo = c.filter(F.col("c_acctbal") < 0).select(F.col("c_mktsegment").alias("mkt"))
    return (
        hi.unionByName(lo).groupBy("mkt").agg(F.count("*").alias("cnt")).orderBy("mkt")
    )


# ------------------------------------------- filters / projections / scalars


@q(
    "p4_required_field_filter",
    "P4 osv/fetcher.go:539-541",
    """SELECT source, count(*) AS cnt FROM documents
       WHERE text IS NOT NULL AND length(text) > 0 AND lang <> ''
       GROUP BY source ORDER BY source""",
)
def p4(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(
            F.col("text").isNotNull()
            & (F.length("text") > 0)
            & (F.col("lang") != "")
        )
        .groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .orderBy("source")
    )


@q(
    "p9_recency_filter",
    "P9 sql/vulnerabilities.sql:122-132 (incremental since)",
    """SELECT event_type, count(*) AS cnt FROM events
       WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
       GROUP BY event_type ORDER BY event_type""",
)
def p9(spark, sf):
    return (
        _t(spark, sf, "events")
        .filter(F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


@q(
    "f5_summary_truncation",
    "F5 internal/merger/normalizer.go:339-356",
    """SELECT doc_id,
              CASE WHEN length(text) <= 100 THEN text
                   WHEN length(string_split_regex(text, '\\. ')[1]) <= 100
                        THEN string_split_regex(text, '\\. ')[1] || '.'
                   ELSE substring(text, 1, 97) || '...' END AS summary
       FROM documents WHERE doc_id < 200 ORDER BY doc_id""",
)
def f5(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", summary_truncate("text").alias("summary"))
        .orderBy("doc_id")
    )


@q(
    "q1_tpch_pricing_summary",
    "flagship OLAP parity (TPC-H Q1 shape over lineitem)",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_quantity), 4) AS avg_qty,
              count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
)
def q1(spark, sf):
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "w2_sessionization",
    "2.6 implicit windows → sessionization (gap > 1h starts a session)",
    """WITH g AS (
         SELECT user_id,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) > INTERVAL 1 HOUR
                     THEN 1 ELSE 0 END AS brk
         FROM events)
       SELECT user_id, CAST(sum(brk) + 1 AS BIGINT) AS n_sessions
       FROM g GROUP BY user_id ORDER BY user_id""",
    note="explicit BIGINT cast: DuckDB sum() yields HUGEINT -> float64 via "
    "fetchdf, which the driver's typed value hash distinguishes from int64",
)
def w2(spark, sf):
    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 1 HOUR"), 1
    ).otherwise(0)
    return (
        ev.withColumn("brk", brk)
        .groupBy("user_id")
        .agg((F.sum("brk") + 1).alias("n_sessions"))
        .orderBy("user_id")
    )


@q(
    "a6_rollup_counts",
    "grouping-set coverage (beyond reference: ROLLUP over orders)",
    """SELECT coalesce(o_orderpriority, '(all)') AS priority,
              coalesce(o_orderstatus, '(all)') AS status,
              count(*) AS cnt
       FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
       ORDER BY priority, status""",
)
def a6(spark, sf):
    return (
        _t(spark, sf, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "cnt",
        )
        .orderBy("priority", "status")
    )


@q(
    "o2_pagination_offset",
    "O1 sql/vulnerabilities.sql:22-32 (LIMIT .. OFFSET via row_number)",
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od FROM (
         SELECT o_orderkey, o_orderdate, row_number() OVER (
             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         FROM orders)
       WHERE rn BETWEEN 101 AND 150 ORDER BY rn""",
)
def o2(spark, sf):
    # Pagination at scale: never a global row_number over the table
    # (that is a single-partition sort of everything). Take the top
    # offset+limit rows distributed (TakeOrderedAndProject), then
    # number the <=150-row result locally.
    o = _t(spark, sf, "orders")
    top = (
        o.select("o_orderkey", "o_orderdate")
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(150)
    )
    w = W.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        top.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").between(101, 150))
        .orderBy("rn")
        .select(
            "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("od")
        )
    )


@q(
    "f11_json_field_extract",
    "F11 internal/merger/merger.go:405-415 (JSON round-trips)",
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
              count(*) AS cnt
       FROM events GROUP BY k_mod ORDER BY k_mod""",
)
def f11(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_mod")
        )
        .groupBy("k_mod")
        .agg(F.count("*").alias("cnt"))
        .orderBy("k_mod")
    )


@q(
    "u3_array_membership",
    "U3 sql/vulnerabilities.sql:5 (= ANY(array)) / U4 arrays_overlap",
    """SELECT source,
              count(*) FILTER (WHERE list_contains(
                  string_split(substring(text, 1, 200), ' '), 'the')) AS with_the,
              count(*) FILTER (WHERE list_has_any(
                  string_split(substring(text, 1, 200), ' '),
                  ['table', 'row', 'scan'])) AS with_any_kw
       FROM documents GROUP BY source ORDER BY source""",
)
def u3(spark, sf):
    d = _t(spark, sf, "documents")
    words = F.split(F.substring("text", 1, 200), " ")
    kw = F.array(F.lit("table"), F.lit("row"), F.lit("scan"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.when(F.array_contains(words, "the"), 1)).alias("with_the"),
            F.count(F.when(F.arrays_overlap(words, kw), 1)).alias("with_any_kw"),
        )
        .orderBy("source")
    )


# ------------------------------------------------- dedup / curation ops


_SHINGLE_SQL = (
    "list_distinct(list_transform(generate_series(1, "
    "greatest(length(lower(text))-4, 1)), i -> substring(lower(text), i, 5)))"
)


@q(
    "dd_minhash_lsh_candidates",
    "training-data dedup: MinHash+LSH (shingle→minhash→band→bucket-join)",
    f"""WITH sh AS (
          SELECT doc_id, {_SHINGLE_SQL} AS s
          FROM documents WHERE doc_id < 200
        ), sig AS (
          SELECT doc_id,
                 [{", ".join(f"list_min(list_transform(s, x -> md5(x || ':{i}')))" for i in range(8))}] AS mh
          FROM sh
        ), bands AS (
          SELECT doc_id, b.band,
                 md5(mh[b.band*2+1] || '|' || mh[b.band*2+2]) AS bucket
          FROM sig, (SELECT unnest([0,1,2,3]) AS band) b
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(len(list_filter(list_transform(generate_series(1, 8),
                     i -> sa.mh[i] = sb.mh[i]), x -> x)) / 8.0, 4) AS est_jaccard
        FROM pairs JOIN sig sa ON sa.doc_id = id_a
                   JOIN sig sb ON sb.doc_id = id_b
        ORDER BY id_a, id_b""",
    note="md5-based minhash => bit-reproducible across engines",
)
def dd_minhash(spark, sf):
    from ..operators.dedup import minhash_lsh_candidates

    d = _fan(_t(spark, sf, "documents").filter(F.col("doc_id") < 200))
    return minhash_lsh_candidates(d, "text", "doc_id", k=8, bands=4).orderBy(
        "id_a", "id_b"
    )


@q(
    "dd_index_dedup",
    "training-data dedup: INCREMENTAL — new docs near-dup-checked against "
    "a PERSISTED banded minhash index (build evens once; probe odds reads "
    "only its own (band,pfx) partitions — operators/dedup_index.py)",
    f"""WITH sh AS (
          SELECT doc_id, {_SHINGLE_SQL} AS s
          FROM documents WHERE doc_id < 200
        ), sig AS (
          SELECT doc_id,
                 [{", ".join(f"list_min(list_transform(s, x -> md5(x || ':{i}')))" for i in range(8))}] AS mh
          FROM sh
        ), bands AS (
          SELECT doc_id, b.band,
                 md5(mh[b.band*2+1] || '|' || mh[b.band*2+2]) AS bucket
          FROM sig, (SELECT unnest([0,1,2,3]) AS band) b
        ), pairs AS (
          SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS dup_id
          FROM bands n JOIN bands e
            ON n.band = e.band AND n.bucket = e.bucket
           AND n.doc_id % 2 = 1 AND e.doc_id % 2 = 0
        )
        SELECT new_id, dup_id,
               round(len(list_filter(list_transform(generate_series(1, 8),
                     i -> sn.mh[i] = se.mh[i]), x -> x)) / 8.0, 4) AS est_jaccard
        FROM pairs JOIN sig sn ON sn.doc_id = new_id
                   JOIN sig se ON se.doc_id = dup_id
        ORDER BY new_id, dup_id""",
    note="the oracle recomputes cross-side band matches in SQL; the "
    "engine path must find the identical pairs while reading ONLY the "
    "probe batch's own index partitions",
)
def dd_index_dedup_q(spark, sf):
    import hashlib as _h
    import os as _os

    from ..operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    idx = _os.path.join(
        "/tmp",
        "vds_mh_index_" + _h.sha256(sf.encode()).hexdigest()[:12],
    )
    if not _os.path.exists(_os.path.join(idx, "_SUCCESS")):
        build_minhash_index(
            d.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", idx
        )
    return dedup_against_index(
        d.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", idx
    ).orderBy("new_id", "dup_id")


@q(
    "dd_ngram_jaccard",
    "training-data dedup: exact n-gram Jaccard similarity join",
    f"""WITH sh AS (
          SELECT doc_id, unnest({_SHINGLE_SQL}) AS s
          FROM documents WHERE doc_id < 150
        ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(n_common / (na.n + nb.n - n_common), 4) AS jaccard
        FROM common JOIN sizes na ON na.doc_id = id_a
                    JOIN sizes nb ON nb.doc_id = id_b
        WHERE n_common / (na.n + nb.n - n_common) >= 0.5
        ORDER BY id_a, id_b""",
)
def dd_jaccard(spark, sf):
    from ..operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    return ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


@q(
    "dd_simhash_pairs",
    "training-data dedup: SimHash near-dup (vectorized pandas UDF)",
    r"""WITH toks AS (
          SELECT doc_id, unnest(list_filter(
              string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
          FROM documents
        ), th AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(tok), 1, 16)) AS UBIGINT) AS h
          FROM toks
        ), bits AS (
          SELECT doc_id, i,
                 CASE WHEN sum(CAST((h >> i) & 1 AS HUGEINT)) * 2 >= count(*)
                      THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS b
          FROM th, generate_series(0, 63) t(i) GROUP BY doc_id, i
        ), sig0 AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN i = 63 THEN -b * (CAST(1 AS HUGEINT) << 63)
                               ELSE b * (CAST(1 AS HUGEINT) << i) END)
                      AS BIGINT) AS sh
          FROM bits GROUP BY doc_id
        ), sig AS (
          SELECT d.doc_id, coalesce(s.sh, 0) AS sh
          FROM documents d LEFT JOIN sig0 s USING (doc_id)
        ), chunks AS (
          SELECT doc_id, sh, k AS chunk_idx, (sh >> CAST(k * 16 AS INTEGER)) & 65535 AS chunk
          FROM sig, generate_series(0, 3) t(k)
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        FROM chunks a JOIN chunks b
          ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 10
        ORDER BY id_a, id_b""",
    note="md5-derived token hashes => the 64-bit simhash is bit-reproducible"
    " in SQL (bit 63 folded via two's complement); low-16-bit masking makes"
    " arithmetic vs logical shift irrelevant",
)
def dd_simhash(spark, sf):
    from ..operators.dedup import simhash_pairs

    d = _fan(_t(spark, sf, "documents"))
    return simhash_pairs(d, "text", "doc_id", max_hamming=10).orderBy(
        "id_a", "id_b"
    )


# -------------------------------------------------------- similarity search


def _query_vec(spark, sf, vid=0):
    """Driver-side lookup of the fixture query vector (a PARAMETER of the
    top-k searches, not part of the distributed plan). Read the one row
    with pyarrow instead of a Spark filter+head job — same parquet input,
    recomputed on every invocation, ~10ms instead of a ~150ms job."""
    import pyarrow.parquet as _pq

    t = _pq.read_table(
        f"{sf}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    idx = t.column("vec_id").to_pylist().index(vid)
    return [float(x) for x in t.column("embedding")[idx].as_py()]


_DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


@q(
    "sim_cosine_topk",
    "similarity: brute-force cosine top-k over array<float> embeddings",
    f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round({_DOT_SQL.format(a="embedding", b="qv")}
                     / (sqrt({_DOT_SQL.format(a="embedding", b="embedding")})
                        * sqrt({_DOT_SQL.format(a="qv", b="qv")})), 6) + 0.0 AS cosine
        FROM embeddings, q
        ORDER BY cosine DESC, vec_id LIMIT 10""",
)
def sim_topk(spark, sf):
    from ..operators.similarity import cosine_topk

    e = _t(spark, sf, "embeddings")
    return cosine_topk(e, "embedding", "vec_id", _query_vec(spark, sf), k=10)


_SIGS_SQL = """planes AS (
  SELECT i, j,
         (CAST(concat('0x', substring(md5('hp:42:' || CAST(i AS VARCHAR)
              || ':' || CAST(j AS VARCHAR)), 1, 16)) AS UBIGINT)
          / 18446744073709551616.0) * 2 - 1 AS p
  FROM generate_series(0, 63) t1(i), generate_series(0, 15) t2(j)
), vexp AS (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, generate_series(1, 64) t(i)
), dots AS (
  SELECT vec_id, j, sum(v * p) AS d
  FROM vexp JOIN planes USING (i) GROUP BY vec_id, j
), sigs AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN d > 0
                       THEN (CAST(1 AS HUGEINT) << CAST(j AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS sig
  FROM dots GROUP BY vec_id
)"""


@q(
    "sim_ann_lsh_topk",
    "similarity: LSH-bucketed approximate top-k (scale path)",
    f"""WITH {_SIGS_SQL},
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0),
        cand AS (
          SELECT e.vec_id, e.embedding
          FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id CROSS JOIN qs
          WHERE ((s.sig >> 0) & 15) = ((qs.qsig >> 0) & 15)
             OR ((s.sig >> 4) & 15) = ((qs.qsig >> 4) & 15)
             OR ((s.sig >> 8) & 15) = ((qs.qsig >> 8) & 15)
             OR ((s.sig >> 12) & 15) = ((qs.qsig >> 12) & 15))
        SELECT vec_id,
               round({_DOT_SQL.format(a="embedding", b="qv")}
                     / (sqrt({_DOT_SQL.format(a="embedding", b="embedding")})
                        * sqrt({_DOT_SQL.format(a="qv", b="qv")})), 6) + 0.0
                   AS cosine
        FROM cand, q ORDER BY cosine DESC, vec_id LIMIT 10""",
    note="hyperplanes are md5-derived (similarity._hyperplanes) so the "
    "oracle recomputes the exact signature table in SQL; value-checkable "
    "despite being an approximate index",
)
def sim_ann(spark, sf):
    from ..operators.similarity import ann_lsh_topk

    e = _t(spark, sf, "embeddings")
    return ann_lsh_topk(e, "embedding", "vec_id", _query_vec(spark, sf), k=10)


@q(
    "sim_embedding_neardup",
    "dedup: embedding-cosine near-duplicate pairs (LSH candidates + verify)",
    f"""WITH {_SIGS_SQL},
        bands AS (
          SELECT vec_id, b, (sig >> CAST(b * 4 AS INTEGER)) & 15 AS bucket
          FROM sigs, generate_series(0, 3) t(b)
        ), cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bands a JOIN bands b
            ON a.b = b.b AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ), scored AS (
          SELECT id_a, id_b,
                 round({_DOT_SQL.format(a="ea.embedding", b="eb.embedding")}
                       / (sqrt({_DOT_SQL.format(a="ea.embedding", b="ea.embedding")})
                          * sqrt({_DOT_SQL.format(a="eb.embedding", b="eb.embedding")})),
                       6) AS cosine
          FROM cand JOIN embeddings ea ON ea.vec_id = id_a
                    JOIN embeddings eb ON eb.vec_id = id_b)
        SELECT id_a, id_b, cosine FROM scored
        WHERE cosine >= 0.2 ORDER BY id_a, id_b""",
)
def sim_neardup(spark, sf):
    from ..operators.similarity import embedding_neardup_pairs

    e = _t(spark, sf, "embeddings")
    return embedding_neardup_pairs(
        e, "embedding", "vec_id", dim=64, threshold=0.2
    ).orderBy("id_a", "id_b")


_COS_SQL = (
    "({dot} / (sqrt({aa}) * sqrt({bb})))".format(
        dot=_DOT_SQL.format(a="{a}", b="{b}"),
        aa=_DOT_SQL.format(a="{a}", b="{a}"),
        bb=_DOT_SQL.format(a="{b}", b="{b}"),
    )
)


@q(
    "sim_ivf_topk",
    "similarity: IVF coarse quantization (assign to nearest of C centroids,"
    " probe top-p cells, exact-rank inside)",
    f"""WITH cents AS (
          SELECT vec_id AS cid, embedding AS cv FROM embeddings
          WHERE vec_id IN (1, 2, 3, 4)
        ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        crank AS (
          SELECT cid, row_number() OVER (ORDER BY
              {_COS_SQL.format(a="cv", b="qv")} DESC, cid) AS rn
          FROM cents, q
        ), probe AS (SELECT cid FROM crank WHERE rn <= 2),
        scores AS (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     round({_COS_SQL.format(a="e.embedding", b="c.cv")}, 9)
                     DESC, c.cid) AS rn
          FROM embeddings e, cents c
        ), assigned AS (
          SELECT vec_id, embedding, cid FROM scores WHERE rn = 1)
        SELECT a.vec_id,
               round({_COS_SQL.format(a="a.embedding", b="qv")}, 6) + 0.0
                   AS cosine
        FROM assigned a JOIN probe USING (cid) CROSS JOIN q
        ORDER BY cosine DESC, a.vec_id LIMIT 10""",
    note="centroids = embeddings 1-4 (deterministic); assignment tiebreak "
    "= first max in centroid order on both sides (round 9dp); probe = top-"
    "2 cells by query cosine",
)
def sim_ivf(spark, sf):
    from ..operators.similarity import ivf_topk

    e = _t(spark, sf, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id").isin(1, 2, 3, 4))
        .orderBy("vec_id")
        .collect()
    ]
    out = ivf_topk(
        e, "embedding", "vec_id", cents, _query_vec(spark, sf), k=10, n_probe=2
    )
    return out.select("vec_id", (F.col("cosine") + F.lit(0.0)).alias("cosine"))


@q(
    "sim_centroid_by_label",
    "similarity: per-label embedding centroid (posexplode + agg)",
    """SELECT label, i - 1 AS pos,
              round(avg(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS centroid
       FROM embeddings, generate_series(1, 64) t(i)
       GROUP BY label, i ORDER BY label, pos""",
    note="+0.0 normalizes IEEE negative zero across engines",
)
def sim_centroid(spark, sf):
    e = _t(spark, sf, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0)).alias(
                "centroid"
            )
        )
        .orderBy("label", "pos")
    )


# ------------------------------------------------------------- text analysis


@q(
    "tx_token_stats",
    "text analysis: token counting (whitespace + BPE-ish regex)",
    r"""SELECT doc_id,
              len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
              length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
       FROM documents ORDER BY doc_id""",
)
def tx_tokens(spark, sf):
    from ..functions.text import bpe_ish_token_count, punct_count, token_count

    return (
        _fan(_t(spark, sf, "documents"))
        .select(
            "doc_id",
            token_count("text").alias("n_tokens"),
            bpe_ish_token_count("text").alias("n_bpe_tokens"),
            punct_count("text").alias("n_punct"),
        )
        .orderBy("doc_id")
    )


@q(
    "tx_repetition_stats",
    "text analysis: Gopher-style repetition quality signals (dup-line "
    "fraction, top word-2/3-gram share — operators/corpus.py "
    "repetition_stats)",
    r"""WITH lines AS (
          SELECT doc_id,
                 list_filter(string_split(text, chr(10)),
                             s -> trim(s) <> '') AS ls
          FROM documents
        ), lstats AS (
          SELECT doc_id, len(ls) AS n_lines,
                 CASE WHEN len(ls) <= 0 THEN 0.0
                      ELSE round(1.0 - len(list_distinct(ls)) * 1.0
                                 / len(ls), 4) END AS dup_line_frac
          FROM lines
        ), words AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ws
          FROM documents
        ), grams AS (
          SELECT doc_id, 2 AS n,
                 unnest(list_transform(generate_series(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS g
          FROM words WHERE len(ws) >= 2
          UNION ALL
          SELECT doc_id, 3,
                 unnest(list_transform(generate_series(1, len(ws) - 2),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          FROM words WHERE len(ws) >= 3
        ), counts AS (
          SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
        ), fr AS (
          SELECT doc_id, n, round(max(c) * 1.0 / sum(c), 4) AS frac
          FROM counts GROUP BY 1, 2
        )
        SELECT l.doc_id, l.n_lines, l.dup_line_frac,
               coalesce(f2.frac, 0.0) AS top2_frac,
               coalesce(f3.frac, 0.0) AS top3_frac
        FROM lstats l
        LEFT JOIN fr f2 ON f2.doc_id = l.doc_id AND f2.n = 2
        LEFT JOIN fr f3 ON f3.doc_id = l.doc_id AND f3.n = 3
        ORDER BY l.doc_id""",
    note="one explode + two map-side-combined aggs on the engine side; "
    "shuffle ∝ token count, no pairwise term, no driver action",
)
def tx_repetition(spark, sf):
    from ..operators.corpus import repetition_stats

    return repetition_stats(
        _t(spark, sf, "documents"), "text", "doc_id"
    ).orderBy("doc_id")


@q(
    "tx_dup_span_coverage",
    "corpus dedup: cross-document duplicate 8-gram coverage per doc "
    "(Lee et al. 2022 duplicate-span signal; operators/corpus.py "
    "duplicate_ngram_coverage)",
    r"""WITH words AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ws
          FROM documents
        ), grams AS (
          SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ws) - 7),
                          i -> array_to_string(ws[i:i+7], ' '))) AS g
            FROM words WHERE len(ws) >= 8)
        ), per_gram AS (
          SELECT g, count(*) AS nd FROM grams GROUP BY g
        ), cov AS (
          SELECT doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_dup_grams
          FROM grams JOIN per_gram USING (g) GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(n_grams, 0) AS n_grams,
               coalesce(n_dup_grams, 0) AS n_dup_grams,
               coalesce(round(n_dup_grams * 1.0 / n_grams, 4), 0.0)
                 AS dup_frac
        FROM documents d LEFT JOIN cov USING (doc_id)
        ORDER BY d.doc_id""",
    note="per-doc-distinct grams exploded once; groupBy(gram) and the "
    "1:1 count join share one exchange (ReusedExchange); no doc-pair "
    "term anywhere",
)
def tx_dup_span(spark, sf):
    from ..operators.corpus import duplicate_ngram_coverage

    return duplicate_ngram_coverage(
        _t(spark, sf, "documents"), "text", "doc_id", ngram=8
    ).orderBy("doc_id")


@q(
    "prof_key_skew",
    "ops profiling: key-distribution skew report, the hottest key's share "
    "of the per-key LWW window (operators/profiling.py key_skew_report)",
    r"""WITH counts AS (
          SELECT user_id AS k, count(*) AS c FROM events GROUP BY user_id
        ), stats AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
                 max(c) AS max_cnt
          FROM counts
        ), top AS (
          SELECT CAST(sum(c) AS BIGINT) AS topk_cnt FROM (
            SELECT c, k FROM counts ORDER BY c DESC, k LIMIT 10)
        )
        SELECT n_rows, n_keys, max_cnt,
               round(n_rows * 1.0 / n_keys, 4) AS mean_cnt,
               round(max_cnt * n_keys * 1.0 / n_rows, 4) AS skew_ratio,
               round(max_cnt * 1.0 / n_rows, 6) AS top1_share,
               round(topk_cnt * 1.0 / n_rows, 6) AS topk_share
        FROM stats, top""",
    note="one shuffle for per-key counts; summary agg + TakeOrdered "
    "top-k branch cross-joined back as one-row broadcasts",
)
def prof_skew(spark, sf):
    from ..operators.profiling import key_skew_report

    return key_skew_report(_t(spark, sf, "events"), "user_id", top_k=10)


@q(
    "prof_event_lateness",
    "ops profiling: event-time lateness distribution vs per-key arrival "
    "order — the measured watermark delay (operators/profiling.py "
    "event_lateness_profile)",
    r"""WITH late AS (
          SELECT CAST(max(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - epoch_us(ts) AS DOUBLE) AS late_us
          FROM events
        )
        SELECT count(*) AS n_events,
               CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late,
               round(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 6) AS late_frac,
               round(quantile_cont(late_us, 0.5) / 1e6, 4) AS q50_late_s,
               round(quantile_cont(late_us, 0.95) / 1e6, 4) AS q95_late_s,
               round(quantile_cont(late_us, 0.99) / 1e6, 4) AS q99_late_s,
               round(max(late_us) / 1e6, 4) AS max_late_s
        FROM late""",
    note="keyed O(1)-state running-max window + one global agg; exact "
    "percentile partial state bounded by distinct lateness values",
)
def prof_lateness(spark, sf):
    from ..operators.profiling import event_lateness_profile

    return event_lateness_profile(
        _t(spark, sf, "events"), "user_id", "ts", "event_id"
    )


@q(
    "samp_mix_domains",
    "corpus prep: deterministic domain-mixture resampling to target "
    "shares (Pile/DoReMi-style reweighting; operators/corpus.py "
    "mix_domains — up-weighted domains repeat with an epoch counter, "
    "down-weighted subsample by md5 fraction)",
    """WITH kept AS (
          SELECT doc_id, source FROM documents
          WHERE source IN ('src18', 'src6', 'src7')
        ), counts AS (
          SELECT source AS dom, count(*) AS nd FROM kept GROUP BY source
        ), tot AS (
          SELECT CAST(sum(nd) AS BIGINT) AS ntot FROM counts
        ), dims AS (
          SELECT dom,
                 CAST(CASE dom WHEN 'src18' THEN 0.5 WHEN 'src6' THEN 0.25
                      ELSE 0.25 END AS DOUBLE)
                   * (ntot * CAST(1.0 AS DOUBLE)) / nd AS epochs
          FROM counts, tot
        ), rws AS (
          SELECT k.doc_id, k.source, d.epochs,
                 CAST(concat('0x', substring(
                      md5(CAST(k.doc_id AS VARCHAR) || 'v1'), 1, 15))
                      AS UBIGINT) / POWER(16, 15) AS frac
          FROM kept k JOIN dims d ON k.source = d.dom
        ), copies AS (
          SELECT doc_id, source,
                 CAST(floor(epochs) AS BIGINT)
                   + CASE WHEN frac < epochs - floor(epochs)
                          THEN 1 ELSE 0 END AS nc
          FROM rws
        )
        SELECT doc_id, source,
               unnest(generate_series(0, CAST(nc - 1 AS BIGINT))) AS epoch
        FROM copies WHERE nc > 0 ORDER BY doc_id, epoch""",
    note="epochs written w*(N*scale)/n in BOTH engines (double ops are "
    "order-sensitive); weights 0.5/0.25/0.25 are exact binary fractions "
    "so python-side normalization is bit-exact; big side never shuffles "
    "(per-domain epochs broadcast back)",
)
def samp_mix(spark, sf):
    from ..operators.corpus import mix_domains

    d = _t(spark, sf, "documents").select("doc_id", "source")
    out = mix_domains(
        d,
        "source",
        "doc_id",
        {"src18": 0.5, "src6": 0.25, "src7": 0.25},
        scale=1.0,
    )
    return out.select(
        "doc_id", "source", F.col("epoch").cast("long").alias("epoch")
    ).orderBy("doc_id", "epoch")


@q(
    "tx_normalize_text",
    "corpus prep: text hygiene — zero-width strip, control strip, "
    "Unicode NFC compose (operators/corpus.py normalize_text; dirt "
    "planted deterministically by doc_id rule since the synthetic "
    "corpus is clean ASCII)",
    r"""WITH planted AS (
          SELECT doc_id, text
            || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
                    ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN chr(8203) || 'zw'
                    ELSE '' END
            || CASE WHEN doc_id % 7 = 0 THEN chr(1) || 'ctl'
                    ELSE '' END AS text
          FROM documents
        ), norm AS (
          SELECT doc_id, text,
                 nfc_normalize(regexp_replace(regexp_replace(text,
                   '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))
                   AS text_norm
          FROM planted
        )
        SELECT doc_id, text_norm,
               CAST(length(text) - length(text_norm) AS BIGINT)
                 AS n_chars_removed
        FROM norm ORDER BY doc_id""",
    note="one regex pattern text serves Java and RE2 (both accept "
    "\\x{...} class escapes); NFC is the one non-JVM step (Arrow pandas "
    "UDF, map-only); engine and oracle lengths both count codepoints",
)
def tx_normalize(spark, sf):
    from ..operators.corpus import normalize_text

    d = _t(spark, sf, "documents").select("doc_id", "text")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" café")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.lit("​zw")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit("\x01ctl")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    out = normalize_text(planted, "text")
    return out.select("doc_id", "text_norm", "n_chars_removed").orderBy(
        "doc_id"
    )


@q(
    "sim_quantize_int8",
    "similarity: symmetric int8 embedding quantization (scale = "
    "max|v|/127, floor(x/scale + 0.5); operators/similarity.py "
    "quantize_embeddings) — 4x index-storage trim before ANN",
    r"""WITH m AS (
          SELECT vec_id, label, embedding,
                 list_aggregate(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
          FROM embeddings
        )
        SELECT vec_id, label,
               coalesce(maxabs / 127.0, 0.0) AS scale,
               CASE WHEN maxabs > 0 THEN
                 array_to_string(list_transform(embedding, x ->
                   CAST(CAST(floor(CAST(x AS DOUBLE) / (maxabs / 127.0)
                                   + 0.5) AS INTEGER) AS VARCHAR)), ',')
               END AS qvec
        FROM m ORDER BY vec_id""",
    note="map-only transform/array_max exprs; rounding spelled "
    "floor(x+0.5) in a fixed IEEE op order so any SQL engine "
    "reproduces it bit-for-bit. qvec is array_join'd to a ','-string in "
    "the catalog PROJECTION only (quantize_embeddings itself returns the "
    "int array): pandas canonicalizers can't sort_values/hash list cells",
)
def sim_quant(spark, sf):
    from ..operators.similarity import quantize_embeddings

    return (
        quantize_embeddings(
            _t(spark, sf, "embeddings"), "embedding", "vec_id", ("label",)
        )
        .select(
            "vec_id",
            "label",
            "scale",
            F.array_join(
                F.transform("qvec", lambda x: x.cast("string")), ","
            ).alias("qvec"),
        )
        .orderBy("vec_id")
    )


@q(
    "tx_length_quantiles",
    "corpus profiling: per-language token-count distribution (exact "
    "type-7 quantiles; operators/corpus.py length_quantiles)",
    r"""WITH t AS (
          SELECT lang,
                 CAST(len(list_filter(string_split_regex(text, '\s+'),
                          x -> x <> '')) AS DOUBLE) AS tc
          FROM documents
        )
        SELECT lang, count(*) AS n_docs,
               round(avg(tc), 4) AS avg_tokens,
               round(quantile_cont(tc, 0.5), 4) AS q50_tokens,
               round(quantile_cont(tc, 0.9), 4) AS q90_tokens,
               round(quantile_cont(tc, 0.99), 4) AS q99_tokens
        FROM t GROUP BY lang ORDER BY lang""",
    note="exact percentile's partial agg is a value->count map: memory "
    "∝ distinct lengths per group, not rows — safe for length-like "
    "columns; percentile_approx offered for unbounded columns",
)
def tx_length_q(spark, sf):
    from ..operators.corpus import length_quantiles

    return length_quantiles(
        _t(spark, sf, "documents"), "text", ["lang"]
    ).orderBy("lang")


@q(
    "tx_pii_scrub",
    "corpus prep: PII redaction + per-kind hit counts (emails / IPv4 / "
    "phone -> placeholders; operators/corpus.py pii_scrub). PII planted "
    "deterministically by doc_id rule since the synthetic corpus has "
    "none",
    r"""WITH planted AS (
          SELECT doc_id, text || CASE
            WHEN doc_id % 7 = 0 THEN ' contact user'
              || CAST(doc_id AS VARCHAR) || '@example.com now'
            WHEN doc_id % 11 = 0 THEN ' from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR)
              || '.1 and call 555-867-5309'
            ELSE '' END AS text
          FROM documents
        )
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
            '[EMAIL]', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
            '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g') AS text_clean,
          len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS n_email,
          len(regexp_extract_all(text,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
          len(regexp_extract_all(text,
            '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
          len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          + len(regexp_extract_all(text,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
          + len(regexp_extract_all(text,
            '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_pii
        FROM planted ORDER BY doc_id""",
    note="map-only pass: regexp_replace/extract_all column exprs, "
    "whole-stage codegen, zero shuffle; patterns kept in the "
    "Java-regex/RE2 common subset for cross-engine value checks",
)
def tx_pii(spark, sf):
    from ..operators.corpus import pii_scrub

    did = F.col("doc_id")
    planted = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com now"),
                ),
            )
            .when(
                did % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit(".1 and call 555-867-5309"),
                ),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(planted, "text", "doc_id").orderBy("doc_id")


@q(
    "tx_line_dedup",
    "corpus prep: corpus-level line dedup / boilerplate removal (C4 / "
    "CCNet pass; operators/corpus.py remove_boilerplate_lines). The "
    "synthetic docs are single-line, so boilerplate is planted: a header "
    "shared by ALL docs plus a per-source footer — footers of sources "
    "with >= 25 docs must vanish, rare-source footers must survive",
    """WITH planted AS (
          SELECT doc_id,
            '=== COMMON HEADER ===' || chr(10) || text || chr(10)
              || 'footer of ' || source AS text
          FROM documents
        ),
        lines AS (
          -- parallel unnests zip: value + its ordinal position
          SELECT doc_id,
            unnest(string_split(text, chr(10))) AS line,
            unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
          FROM planted
        ),
        freq AS (
          SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY 1
        ),
        kept AS (
          SELECT l.doc_id, l.line, l.pos
          FROM lines l JOIN freq f USING (line) WHERE f.df < 25
        ),
        rebuilt AS (
          SELECT doc_id,
            string_agg(line, chr(10) ORDER BY pos) AS clean_text,
            count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT p.doc_id,
          coalesce(r.clean_text, '') AS clean_text,
          len(string_split(p.text, chr(10))) AS n_lines,
          len(string_split(p.text, chr(10))) - coalesce(r.n_kept, 0)
            AS n_removed
        FROM planted p LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY p.doc_id""",
    note="explode ∝ corpus lines; ONE distinct+agg shuffle for global "
    "line frequency; the boilerplate set is tiny by construction so AQE "
    "broadcasts the anti-join — the corpus never re-shuffles for it",
)
def tx_line_dedup(spark, sf):
    from ..operators.corpus import remove_boilerplate_lines

    planted = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("=== COMMON HEADER ===\n"),
            F.col("text"),
            F.lit("\nfooter of "),
            F.col("source"),
        ).alias("text"),
    )
    return remove_boilerplate_lines(planted, min_docs=25).orderBy("doc_id")


@q(
    "tx_quality_score",
    "text analysis: document quality scoring (length/punct/token bands)",
    r"""SELECT doc_id, round((
           least(length(text) / 500.0, 1.0)
         + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                     / (length(text) + 1.0) <= 0.1 THEN 1.0
                ELSE greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                     / (length(text) + 1.0) - 0.1) * 5.0) END
         + CASE WHEN length(text) / (len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) + 1.0)
                     BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END
        ) / 3.0, 4) AS quality
       FROM documents ORDER BY doc_id""",
)
def tx_quality(spark, sf):
    from ..functions.text import quality_score

    return (
        _fan(_t(spark, sf, "documents"))
        .select("doc_id", quality_score("text").alias("quality"))
        .orderBy("doc_id")
    )


_HITS_SQL = (
    "len(list_intersect(list_distinct(list_filter(string_split_regex("
    r"lower(text), '\s+'), x -> x <> '')), {bank}))"
)
_BANKS_SQL = {
    "en": "['the','and','of','to','in','is','that','with','for','was']",
    "de": "['der','die','und','das','ist','nicht','mit','ein','von','zu']",
    "es": "['el','la','de','que','los','por','con','una','para','es']",
    "fr": "['le','la','les','des','est','une','dans','pour','qui','pas']",
}


@q(
    "tx_lang_id",
    "text analysis: language-ID heuristic (stopword-bank argmax)",
    f"""WITH s AS (
          SELECT doc_id,
                 {_HITS_SQL.format(bank=_BANKS_SQL["en"])} AS en_h,
                 {_HITS_SQL.format(bank=_BANKS_SQL["de"])} AS de_h,
                 {_HITS_SQL.format(bank=_BANKS_SQL["es"])} AS es_h,
                 {_HITS_SQL.format(bank=_BANKS_SQL["fr"])} AS fr_h
          FROM documents)
        SELECT doc_id,
               CASE WHEN greatest(en_h, de_h, es_h, fr_h) = 0 THEN 'und'
                    WHEN en_h = greatest(en_h, de_h, es_h, fr_h) THEN 'en'
                    WHEN de_h = greatest(en_h, de_h, es_h, fr_h) THEN 'de'
                    WHEN es_h = greatest(en_h, de_h, es_h, fr_h) THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM s ORDER BY doc_id""",
)
def tx_langid(spark, sf):
    # two projections: the distinct-token array, then the four bank-hit
    # counts, so the argmax when-chain compares attributes instead of
    # re-running the token split ~12x (see functions/text.py
    # lang_id_from_hits)
    from ..functions.text import (
        STOPWORDS,
        distinct_tokens,
        lang_id_from_hits,
        stopword_hits_from_tokens,
    )

    hits = {
        lang: F.col(f"_h_{lang}") for lang in STOPWORDS
    }
    return (
        _fan(_t(spark, sf, "documents"))
        .select("doc_id", distinct_tokens("text").alias("_toks"))
        .select(
            "doc_id",
            *[
                stopword_hits_from_tokens(F.col("_toks"), lang).alias(
                    f"_h_{lang}"
                )
                for lang in STOPWORDS
            ],
        )
        .select("doc_id", lang_id_from_hits(hits).alias("pred_lang"))
        .orderBy("doc_id")
    )


@q(
    "tx_fingerprint",
    "text analysis: rolling-hash document fingerprint (min-md5 of 5-grams)",
    r"""WITH w AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
          FROM documents)
        SELECT doc_id,
               list_min(list_transform(
                 generate_series(1, greatest(len(toks) - 4, 1)),
                 i -> md5(array_to_string(toks[i:i+4], ' ')))) AS fingerprint
        FROM w ORDER BY doc_id""",
)
def tx_fingerprint(spark, sf):
    # tokens projected before the n-gram transform references them — a
    # captured token-split re-evaluates per n-gram position (see
    # functions/text.py word_ngrams_of_tokens)
    from ..functions.text import tokens, word_ngrams_of_tokens

    return (
        _fan(_t(spark, sf, "documents"))
        .select("doc_id", tokens("text").alias("_toks"))
        .select(
            "doc_id",
            F.array_min(
                F.transform(word_ngrams_of_tokens(F.col("_toks"), 5), F.md5)
            ).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------- multimodal


@q(
    "mm_binary_metadata",
    "multimodal: opaque binary column + typed metadata plumbing",
    """SELECT doc_id AS media_id, strlen(text) AS byte_len,
              md5(text) AS content_md5,
              CAST(strlen(text) % 640 + 32 AS INTEGER) AS width
       FROM documents ORDER BY media_id""",
)
def mm_meta(spark, sf):
    from ..operators.multimodal import as_media_table

    m = as_media_table(_t(spark, sf, "documents"), "doc_id", "text")
    return m.select(
        "media_id",
        F.length("content").cast("long").alias("byte_len"),
        F.md5("content").alias("content_md5"),
        F.col("meta.width").alias("width"),
    ).orderBy("media_id")


@q(
    "mm_extract_features",
    "multimodal: Arrow-batched decode/feature-extract (stubbed decoder)",
    """SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS byte_len,
              md5(text) AS content_md5
       FROM documents ORDER BY media_id""",
    note="oracle checks the mapInPandas plumbing outputs (byte_len/md5 of "
    "the binary payload); the fake-decode feat vector is engine-internal",
)
def mm_features(spark, sf):
    from ..operators.multimodal import as_media_table, extract_features

    m = as_media_table(_t(spark, sf, "documents"), "doc_id", "text")
    return extract_features(m).select(
        "media_id", "byte_len", "content_md5"
    ).orderBy("media_id")


@q(
    "mm_resize",
    "multimodal: resize plumbing (payload ∝ target/source area, meta "
    "rewrite; stubbed resampler — operators/multimodal.py resize_media)",
    """SELECT doc_id AS media_id,
              CAST(greatest(1, strlen(text) * 64 * 64
                   // ((strlen(text) % 640 + 32)
                       * (strlen(text) % 480 + 32))) AS BIGINT)
                  AS byte_len,
              CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height
       FROM documents ORDER BY media_id""",
    note="oracle checks the size arithmetic + metadata rewrite; the "
    "md5-chain stub payload itself is engine-internal (same contract as "
    "mm_extract_features)",
)
def mm_resize(spark, sf):
    from ..operators.multimodal import as_media_table, resize_media

    m = as_media_table(_t(spark, sf, "documents"), "doc_id", "text")
    return resize_media(m, 64, 64).select(
        "media_id",
        F.length("content").cast("long").alias("byte_len"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    ).orderBy("media_id")


@q(
    "mm_decode_ppm_features",
    "multimodal: REAL image decode — planted PPM (P6) payloads parsed by "
    "the pure-numpy codec (operators/multimodal.py decode_ppm, "
    "decode_stub=False) and reduced to exact pixel statistics; the "
    "oracle recomputes every pixel analytically from the plant rule "
    "pixel(y,x,c) = (x*7 + y*13 + id*3 + c*29) % 256",
    """WITH d AS (
          SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 4 + 3 AS h
          FROM documents
        ),
        px AS (
          SELECT d.doc_id, d.w, d.h,
                 (x.x*7 + y.y*13 + d.doc_id*3) % 256 AS r,
                 (x.x*7 + y.y*13 + d.doc_id*3 + 29) % 256 AS g,
                 (x.x*7 + y.y*13 + d.doc_id*3 + 58) % 256 AS b
          FROM d, generate_series(0, 7) x(x), generate_series(0, 5) y(y)
          WHERE x.x < d.w AND y.y < d.h
        )
        SELECT doc_id AS media_id,
               CAST(11 + 3*w*h AS BIGINT) AS byte_len,
               CAST(sum(r) AS BIGINT) AS sum_r,
               CAST(sum(g) AS BIGINT) AS sum_g,
               CAST(sum(b) AS BIGINT) AS sum_b,
               CAST(min(least(r, g, b)) AS BIGINT) AS px_min,
               CAST(max(greatest(r, g, b)) AS BIGINT) AS px_max,
               CAST(w*h AS BIGINT) AS n_px,
               CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height
        FROM px GROUP BY doc_id, w, h ORDER BY media_id""",
    note="byte_len = 11-byte P6 header (single-digit dims) + 3*w*h raster "
    "— a wrong encoder shifts it; features are small integers so the "
    "float32 feat array is bit-exact (no mean/stddev drift). This is the "
    "honest-decode half of the multimodal surface; opaque codecs keep "
    "the documented stub",
)
def mm_ppm_features(spark, sf):
    from ..operators.multimodal import extract_features, planted_ppm_table

    m = planted_ppm_table(_t(spark, sf, "documents"), "doc_id")
    f = extract_features(m, decode_stub=False)
    return f.select(
        "media_id",
        "byte_len",
        F.col("feat")[0].cast("long").alias("sum_r"),
        F.col("feat")[1].cast("long").alias("sum_g"),
        F.col("feat")[2].cast("long").alias("sum_b"),
        F.col("feat")[3].cast("long").alias("px_min"),
        F.col("feat")[4].cast("long").alias("px_max"),
        F.col("feat")[5].cast("long").alias("n_px"),
        F.col("feat")[6].cast("long").alias("width"),
        F.col("feat")[7].cast("long").alias("height"),
    ).orderBy("media_id")


@q(
    "mm_resize_ppm",
    "multimodal: REAL nearest-neighbor image resize — PPM payloads "
    "decoded, resampled on the floor grid out[y,x] = src(y*H//4, x*W//5), "
    "re-encoded as valid P6, then re-decoded for stats "
    "(operators/multimodal.py resize_media/resize_nearest, "
    "decode_stub=False); the oracle recomputes the resampled pixels "
    "analytically",
    """WITH d AS (
          SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 4 + 3 AS h
          FROM documents
        ),
        px AS (
          SELECT d.doc_id,
                 (((x2.x*d.w)//5)*7 + ((y2.y*d.h)//4)*13 + d.doc_id*3)
                     % 256 AS r,
                 (((x2.x*d.w)//5)*7 + ((y2.y*d.h)//4)*13 + d.doc_id*3
                     + 29) % 256 AS g,
                 (((x2.x*d.w)//5)*7 + ((y2.y*d.h)//4)*13 + d.doc_id*3
                     + 58) % 256 AS b
          FROM d, generate_series(0, 4) x2(x), generate_series(0, 3) y2(y)
        )
        SELECT doc_id AS media_id,
               CAST(71 AS BIGINT) AS byte_len,
               CAST(sum(r) AS BIGINT) AS sum_r,
               CAST(sum(g) AS BIGINT) AS sum_g,
               CAST(sum(b) AS BIGINT) AS sum_b,
               CAST(min(least(r, g, b)) AS BIGINT) AS px_min,
               CAST(max(greatest(r, g, b)) AS BIGINT) AS px_max
        FROM px GROUP BY doc_id ORDER BY media_id""",
    note="every source image lands at 5x4 (71 bytes = 11-byte header + "
    "60-byte raster); the per-channel sums of the RESAMPLED image verify "
    "the index mapping — an off-by-one in the floor grid (e.g. "
    "round-half semantics) picks different source pixels and mismatches",
)
def mm_ppm_resize(spark, sf):
    from ..operators.multimodal import (
        extract_features,
        planted_ppm_table,
        resize_media,
    )

    m = planted_ppm_table(_t(spark, sf, "documents"), "doc_id")
    r = resize_media(m, 5, 4, decode_stub=False)
    f = extract_features(r, decode_stub=False)
    return f.select(
        "media_id",
        "byte_len",
        F.col("feat")[0].cast("long").alias("sum_r"),
        F.col("feat")[1].cast("long").alias("sum_g"),
        F.col("feat")[2].cast("long").alias("sum_b"),
        F.col("feat")[3].cast("long").alias("px_min"),
        F.col("feat")[4].cast("long").alias("px_max"),
    ).orderBy("media_id")


@q(
    "mm_decode_wav_features",
    "multimodal: REAL audio decode — planted PCM WAV payloads parsed by "
    "the pure-numpy RIFF codec (operators/multimodal.py decode_wav, "
    "decode_stub=False) and reduced to exact sample statistics; the "
    "oracle recomputes every sample analytically from the plant rule "
    "sample(t) = ((t*31 + id*17) % 4096) - 2048",
    """WITH d AS (
          SELECT doc_id, doc_id % 50 + 20 AS n,
                 8000 + (doc_id % 3)*4000 AS rate
          FROM documents
        ),
        s AS (
          SELECT d.doc_id, d.n, d.rate,
                 ((t.t*31 + d.doc_id*17) % 4096) - 2048 AS v
          FROM d, generate_series(0, 69) t(t) WHERE t.t < d.n
        )
        SELECT doc_id AS media_id,
               CAST(44 + 2*n AS BIGINT) AS byte_len,
               CAST(sum(v) AS BIGINT) AS sum_s,
               CAST(min(v) AS BIGINT) AS s_min,
               CAST(max(v) AS BIGINT) AS s_max,
               CAST(n AS BIGINT) AS n_samples,
               CAST(rate AS BIGINT) AS sample_rate
        FROM s GROUP BY doc_id, n, rate ORDER BY media_id""",
    note="byte_len = 44-byte RIFF/fmt/data header + 2 bytes per int16 "
    "frame — a wrong encoder shifts it; sample stats are small integers "
    "so the float32 feat array is bit-exact. Second REAL modality next "
    "to PPM images; compressed codecs keep the documented stub",
)
def mm_wav_features(spark, sf):
    from ..operators.multimodal import extract_features, planted_wav_table

    m = planted_wav_table(_t(spark, sf, "documents"), "doc_id")
    f = extract_features(m, decode_stub=False)
    return f.select(
        "media_id",
        "byte_len",
        F.col("feat")[0].cast("long").alias("sum_s"),
        F.col("feat")[1].cast("long").alias("s_min"),
        F.col("feat")[2].cast("long").alias("s_max"),
        F.col("feat")[3].cast("long").alias("n_samples"),
        F.col("feat")[4].cast("long").alias("sample_rate"),
    ).orderBy("media_id")


@q(
    "mm_resample_wav",
    "multimodal: REAL audio resample — PCM WAV decoded, sample-picked on "
    "the nearest-neighbor grid out[t] = src[t*n//m] to 6 kHz, re-encoded "
    "(operators/multimodal.py resample_media/resample_nearest_audio); "
    "the oracle recomputes the picked samples analytically",
    """WITH d AS (
          SELECT doc_id, doc_id % 50 + 20 AS n,
                 8000 + (doc_id % 3)*4000 AS rate
          FROM documents
        ),
        r AS (
          SELECT doc_id, n, greatest(1, (n*6000)//rate) AS m FROM d
        ),
        s AS (
          SELECT r.doc_id, r.m,
                 ((((t.t*r.n)//r.m)*31 + r.doc_id*17) % 4096) - 2048 AS v
          FROM r, generate_series(0, 69) t(t) WHERE t.t < r.m
        )
        SELECT doc_id AS media_id,
               CAST(44 + 2*m AS BIGINT) AS byte_len,
               CAST(sum(v) AS BIGINT) AS sum_s,
               CAST(m AS BIGINT) AS n_samples,
               CAST(6000 AS BIGINT) AS sample_rate
        FROM s GROUP BY doc_id, m ORDER BY media_id""",
    note="m = n*target//src frames; the sum of the RESAMPLED clip "
    "verifies the pick indices — an interpolating or round-half "
    "resampler picks different source frames and mismatches",
)
def mm_wav_resample(spark, sf):
    from ..operators.multimodal import (
        extract_features,
        planted_wav_table,
        resample_media,
    )

    m = planted_wav_table(_t(spark, sf, "documents"), "doc_id")
    r = resample_media(m, 6000)
    f = extract_features(r, decode_stub=False)
    return f.select(
        "media_id",
        "byte_len",
        F.col("feat")[0].cast("long").alias("sum_s"),
        F.col("feat")[3].cast("long").alias("n_samples"),
        F.col("feat")[4].cast("long").alias("sample_rate"),
    ).orderBy("media_id")


@q(
    "mm_decode_y4m_features",
    "multimodal: REAL video decode — planted YUV4MPEG2 payloads parsed "
    "by the pure-numpy codec (operators/multimodal.py decode_y4m, "
    "decode_stub=False) and reduced to exact per-plane statistics; the "
    "oracle recomputes every pixel analytically from the plant rule "
    "pixel(f,y,x,p) = (f*41 + y*13 + x*7 + id*3 + p*29) % 256",
    """WITH d AS (
          SELECT doc_id, doc_id % 4 + 2 AS w, doc_id % 3 + 2 AS h,
                 doc_id % 6 + 2 AS n
          FROM documents
        ),
        px AS (
          SELECT d.doc_id, d.w, d.h, d.n,
                 (f.f*41 + y.y*13 + x.x*7 + d.doc_id*3) % 256 AS py,
                 (f.f*41 + y.y*13 + x.x*7 + d.doc_id*3 + 29) % 256 AS pu,
                 (f.f*41 + y.y*13 + x.x*7 + d.doc_id*3 + 58) % 256 AS pv
          FROM d, generate_series(0, 6) f(f), generate_series(0, 3) y(y),
               generate_series(0, 4) x(x)
          WHERE f.f < d.n AND y.y < d.h AND x.x < d.w
        )
        SELECT doc_id AS media_id,
               CAST(35 + n*(6 + 3*w*h) AS BIGINT) AS byte_len,
               CAST(sum(py) AS BIGINT) AS sum_y,
               CAST(sum(pu) AS BIGINT) AS sum_u,
               CAST(sum(pv) AS BIGINT) AS sum_v,
               CAST(min(least(py, pu, pv)) AS BIGINT) AS px_min,
               CAST(max(greatest(py, pu, pv)) AS BIGINT) AS px_max,
               CAST(n AS BIGINT) AS n_frames,
               CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height
        FROM px GROUP BY doc_id, w, h, n ORDER BY media_id""",
    note="byte_len = 35-byte stream header (single-digit dims) + per "
    "frame a 6-byte FRAME marker + 3*w*h C444 raster — a wrong encoder "
    "shifts it; plane sums are small integers so the float32 feat array "
    "is bit-exact. Third REAL modality next to PPM images and PCM WAV "
    "audio; compressed video keeps the documented stub",
)
def mm_y4m_features(spark, sf):
    from ..operators.multimodal import extract_features, planted_y4m_table

    m = planted_y4m_table(_t(spark, sf, "documents"), "doc_id")
    f = extract_features(m, decode_stub=False)
    return f.select(
        "media_id",
        "byte_len",
        F.col("feat")[0].cast("long").alias("sum_y"),
        F.col("feat")[1].cast("long").alias("sum_u"),
        F.col("feat")[2].cast("long").alias("sum_v"),
        F.col("feat")[3].cast("long").alias("px_min"),
        F.col("feat")[4].cast("long").alias("px_max"),
        F.col("feat")[5].cast("long").alias("n_frames"),
        F.col("feat")[6].cast("long").alias("width"),
        F.col("feat")[7].cast("long").alias("height"),
    ).orderBy("media_id")


@q(
    "mm_sample_y4m_frames",
    "multimodal: REAL video frame sampling — Y4M decoded, frames picked "
    "on the uniform floor grid src = i*n//n_out (1:N mapInPandas, "
    "operators/multimodal.py sample_frames_y4m), exact per-frame plane "
    "stats; the oracle recomputes the sampled frames analytically",
    """WITH d AS (
          SELECT doc_id, doc_id % 4 + 2 AS w, doc_id % 3 + 2 AS h,
                 doc_id % 6 + 2 AS n
          FROM documents
        ),
        fr AS (
          SELECT d.*, i.i AS frame_idx,
                 (i.i * d.n) // least(3, d.n) AS src_frame
          FROM d, generate_series(0, 2) i(i)
          WHERE i.i < least(3, d.n)
        ),
        px AS (
          SELECT fr.doc_id, fr.frame_idx, fr.src_frame,
                 (fr.src_frame*41 + y.y*13 + x.x*7 + fr.doc_id*3) % 256
                     AS py,
                 (fr.src_frame*41 + y.y*13 + x.x*7 + fr.doc_id*3 + 29)
                     % 256 AS pu,
                 (fr.src_frame*41 + y.y*13 + x.x*7 + fr.doc_id*3 + 58)
                     % 256 AS pv
          FROM fr, generate_series(0, 3) y(y), generate_series(0, 4) x(x)
          WHERE y.y < fr.h AND x.x < fr.w
        )
        SELECT doc_id AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
               CAST(src_frame AS INTEGER) AS src_frame,
               CAST(sum(py) AS BIGINT) AS y_sum,
               CAST(sum(pu) AS BIGINT) AS u_sum,
               CAST(sum(pv) AS BIGINT) AS v_sum,
               CAST(min(least(py, pu, pv)) AS INTEGER) AS px_min,
               CAST(max(greatest(py, pu, pv)) AS INTEGER) AS px_max
        FROM px GROUP BY doc_id, frame_idx, src_frame
        ORDER BY media_id, frame_idx""",
    note="the per-frame sums verify the temporal pick indices — a "
    "round-half or ceil sampler picks different source frames and "
    "mismatches; n_out = min(3, n_frames) covers both the subsample "
    "(n>3) and take-all (n<=3) branches",
)
def mm_y4m_frames(spark, sf):
    from ..operators.multimodal import planted_y4m_table, sample_frames_y4m

    m = planted_y4m_table(_t(spark, sf, "documents"), "doc_id")
    return sample_frames_y4m(m, max_frames=3).orderBy(
        "media_id", "frame_idx"
    )


@q(
    "mm_sample_frames",
    "multimodal: frame sampling (1:N mapInPandas)",
    """WITH m AS (SELECT doc_id, text, strlen(text) AS n_bytes
                  FROM documents WHERE doc_id < 100)
       SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
              md5(substring(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS frame_md5
       FROM m, generate_series(0, 7) t(i)
       WHERE i < least(8, greatest(1, n_bytes // 256))
       ORDER BY media_id, frame_idx""",
    note="documents.text is ASCII so char substring == byte slice; frames "
    "are 256-byte chunks, max 8, min 1 (whole payload)",
)
def mm_frames(spark, sf):
    from ..operators.multimodal import as_media_table, sample_frames

    m = as_media_table(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 100), "doc_id", "text"
    )
    return sample_frames(m).orderBy("media_id", "frame_idx")


@q(
    "st_windowed_stats",
    "2.10 watermarked windowed agg (streaming/windows.py; batch form over "
    "events as the checkable plan)",
    """SELECT strftime(to_timestamp(floor(epoch(ts) / 600) * 600),
                       '%Y-%m-%d %H:%M:%S') AS window_start,
              strftime(to_timestamp(floor(epoch(ts) / 600) * 600 + 600),
                       '%Y-%m-%d %H:%M:%S') AS window_end,
              event_type AS op, count(*) AS n_events,
              CAST(sum(strlen(props)) AS BIGINT) AS bytes
       FROM events GROUP BY 1, 2, 3
       ORDER BY window_start, op""",
    note="tumbling 10-min windows align to the epoch in both engines; "
    "approx_count_distinct(n_repos) excluded (HLL not cross-engine)",
)
def st_windowed(spark, sf):
    from ..streaming.windows import windowed_change_stats

    ev = _t(spark, sf, "events").select(
        F.col("event_type").alias("op"),
        F.col("props").alias("content"),
        F.col("user_id").cast("string").alias("repo"),
        "ts",
    )
    out = windowed_change_stats(ev, "10 minutes")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "op",
        "n_events",
        "bytes",
    ).orderBy("window_start", "op")


# ------------------------------------------------ CDC envelope sources


@q(
    "src_debezium_parse",
    "WAL/binlog ingress: Debezium envelope -> canonical changelog "
    "(sources/debezium.py parse_debezium; pure from_json, no UDF). The "
    "entry builds REAL Debezium JSON envelopes from events (op c/u/d "
    "routing, deletes carry before-image only, ts_ms millis, lsn as "
    "commit_seq), plants two malformed classes (non-envelope JSON, "
    "unparseable text), parses them back, and keeps good rows; the "
    "oracle recomputes the canonical result analytically",
    """SELECT event_id * 10 AS commit_seq,
              CASE WHEN event_type = 'signup' THEN 'insert'
                   WHEN event_type IN ('click', 'view') THEN 'update'
                   ELSE 'delete' END AS op,
              'r' || CAST(user_id % 50 AS VARCHAR) AS repo,
              'f' || CAST(event_id % 97 AS VARCHAR) || '.py' AS path,
              'c' || CAST(event_id AS VARCHAR) AS "commit",
              'py' AS lang,
              props AS content,
              strftime(date_trunc('millisecond', ts),
                       '%Y-%m-%d %H:%M:%S.%g') AS ts,
              CAST(strlen(props) AS BIGINT) AS size_bytes
       FROM events
       WHERE event_type <> 'error' AND event_id % 13 <> 0
       ORDER BY commit_seq""",
    note="'error' events become valid-JSON non-envelopes (malformed "
    "envelope), every 13th event becomes unparseable text (null "
    "from_json) — both must land in _parse_error, not the output; "
    "content = props exercises JSON-in-JSON escaping through the "
    "to_json/from_json round trip",
)
def src_debezium(spark, sf):
    from ..sources.debezium import parse_debezium

    ev = _t(spark, sf, "events")
    img = F.struct(
        F.concat(F.lit("r"), (F.col("user_id") % 50).cast("string")).alias(
            "repo"
        ),
        F.concat(
            F.lit("f"), (F.col("event_id") % 97).cast("string"), F.lit(".py")
        ).alias("path"),
        F.concat(F.lit("c"), F.col("event_id").cast("string")).alias(
            "commit"
        ),
        F.lit("py").alias("lang"),
        F.col("props").alias("content"),
        F.length("props").cast("long").alias("size_bytes"),
    )
    op = (
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type").isin("click", "view"), F.lit("u"))
        .otherwise(F.lit("d"))
    )
    payload = F.struct(
        F.when(op == "d", img).alias("before"),
        F.when(op != "d", img).alias("after"),
        F.struct(
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
            (F.col("event_id") * 10).alias("lsn"),
            F.lit(None).cast("long").alias("pos"),
            F.lit("app").alias("db"),
            F.lit("files").alias("table"),
        ).alias("source"),
        op.alias("op"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    value = (
        F.when(F.col("event_id") % 13 == 0, F.lit("xx{ not json"))
        .when(
            F.col("event_type") == "error", F.lit('{"not": "an envelope"}')
        )
        .otherwise(F.to_json(F.struct(payload.alias("payload"))))
    )
    parsed = parse_debezium(ev.select(value.alias("value")))
    return (
        parsed.filter(F.col("_parse_error").isNull())
        .select(
            "commit_seq",
            "op",
            "repo",
            "path",
            "commit",
            "lang",
            "content",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("ts"),
            "size_bytes",
        )
        .orderBy("commit_seq")
    )


@q(
    "src_maxwell_parse",
    "WAL/binlog ingress: Maxwell envelope -> canonical changelog "
    "(sources/debezium.py parse_maxwell). Maxwell differs from Debezium "
    "everywhere it can: ts in SECONDS, row always in data (deletes too), "
    "xid as commit_seq, word op codes incl bootstrap-insert; an unknown "
    "type (table-create) must land in _parse_error, not the output",
    """SELECT event_id * 7 + 1 AS commit_seq,
              CASE WHEN event_type = 'signup' THEN 'insert'
                   WHEN event_type IN ('click', 'view') THEN 'update'
                   ELSE 'delete' END AS op,
              'r' || CAST(user_id % 50 AS VARCHAR) AS repo,
              'f' || CAST(event_id % 97 AS VARCHAR) || '.py' AS path,
              'c' || CAST(event_id AS VARCHAR) AS "commit",
              'py' AS lang,
              props AS content,
              strftime(date_trunc('second', ts),
                       '%Y-%m-%d %H:%M:%S') AS ts,
              CAST(strlen(props) AS BIGINT) AS size_bytes
       FROM events WHERE event_type <> 'error'
       ORDER BY commit_seq""",
    note="signup splits across insert and bootstrap-insert (both must "
    "normalize to insert); second-precision ts vs Debezium's millis "
    "pins the two formats' different clock contracts",
)
def src_maxwell(spark, sf):
    from ..sources.debezium import parse_maxwell

    ev = _t(spark, sf, "events")
    img = F.struct(
        F.concat(F.lit("r"), (F.col("user_id") % 50).cast("string")).alias(
            "repo"
        ),
        F.concat(
            F.lit("f"), (F.col("event_id") % 97).cast("string"), F.lit(".py")
        ).alias("path"),
        F.concat(F.lit("c"), F.col("event_id").cast("string")).alias(
            "commit"
        ),
        F.lit("py").alias("lang"),
        F.col("props").alias("content"),
        F.length("props").cast("long").alias("size_bytes"),
    )
    mtype = (
        F.when(
            (F.col("event_type") == "signup") & (F.col("user_id") % 2 == 0),
            F.lit("bootstrap-insert"),
        )
        .when(F.col("event_type") == "signup", F.lit("insert"))
        .when(F.col("event_type").isin("click", "view"), F.lit("update"))
        .when(F.col("event_type") == "purchase", F.lit("delete"))
        .otherwise(F.lit("table-create"))
    )
    value = F.to_json(
        F.struct(
            F.lit("app").alias("database"),
            F.lit("files").alias("table"),
            mtype.alias("type"),
            F.unix_timestamp("ts").alias("ts"),
            (F.col("event_id") * 7 + 1).alias("xid"),
            F.lit(None).cast("string").alias("position"),
            img.alias("data"),
            F.lit(None).cast("string").alias("old"),
        )
    )
    parsed = parse_maxwell(ev.select(value.alias("value")))
    return (
        parsed.filter(F.col("_parse_error").isNull())
        .select(
            "commit_seq",
            "op",
            "repo",
            "path",
            "commit",
            "lang",
            "content",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "size_bytes",
        )
        .orderBy("commit_seq")
    )


@q(
    "u4_exists_struct_array",
    "P1/U3 sql/vulnerabilities.sql:5 exists-over-struct-array (affected[]."
    "package shape)",
    r"""SELECT source,
              count(*) FILTER (WHERE len(list_filter(
                  list_filter(string_split_regex(substring(text, 1, 200), '\s+'),
                              x -> x <> ''),
                  w -> strlen(w) > 8)) > 0) AS with_long_word
       FROM documents GROUP BY source ORDER BY source""",
    note="engine wraps each token in a struct {name, n} and probes with "
    "F.exists over the struct array; oracle checks the equivalent predicate",
)
def u4_exists(spark, sf):
    d = _t(spark, sf, "documents")
    words = F.filter(
        F.split(F.substring("text", 1, 200), "\\s+"), lambda w: w != ""
    )
    structs = F.transform(
        words, lambda w: F.struct(w.alias("name"), F.length(w).alias("n"))
    )
    has_long = F.exists(structs, lambda s: s["n"] > 8)
    return (
        d.groupBy("source")
        .agg(F.count(F.when(has_long, 1)).alias("with_long_word"))
        .orderBy("source")
    )


# ------------------------------------------------ scalar parse ops (F2-F6, P5)


@q(
    "f6_ecosystem_slug",
    "F6 internal/merger/normalizer.go:313-336 (package slug -> ecosystem)",
    """SELECT doc_id,
              CASE (['gem','npm','pip','golang','maven','dotnet','cargo',''])
                       [(doc_id % 8) + 1]
                   WHEN 'gem' THEN 'rubygems' WHEN 'npm' THEN 'npm'
                   WHEN 'pip' THEN 'pypi' WHEN 'golang' THEN 'go'
                   WHEN 'maven' THEN 'maven' WHEN 'dotnet' THEN 'nuget'
                   WHEN 'cargo' THEN 'cargo' ELSE '' END AS ecosystem
       FROM documents ORDER BY doc_id""",
    note="'cargo' exercises the reference's default-to-segment branch; '' "
    "exercises the empty-slug passthrough",
)
def f6_slug(spark, sf):
    from ..functions.normalize import ecosystem_from_slug

    d = _t(spark, sf, "documents")
    seg = F.element_at(
        F.array(
            *[
                F.lit(x)
                for x in ["gem", "npm", "pip", "golang", "maven", "dotnet", "cargo", ""]
            ]
        ),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    slug = F.concat(seg, F.lit("/"), F.substring("text", 1, 5))
    return d.select(
        "doc_id", ecosystem_from_slug(slug).alias("ecosystem")
    ).orderBy("doc_id")


@q(
    "sim_ann_index_topk",
    "similarity: PERSISTED partition-pruned ANN index (build once, query "
    "touches only its band/bucket partitions — operators/similarity.py "
    "build_ann_index/ann_index_topk)",
    f"""WITH {_SIGS_SQL},
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0),
        cand AS (
          SELECT e.vec_id, e.embedding
          FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id CROSS JOIN qs
          WHERE ((s.sig >> 0) & 15) = ((qs.qsig >> 0) & 15)
             OR ((s.sig >> 4) & 15) = ((qs.qsig >> 4) & 15)
             OR ((s.sig >> 8) & 15) = ((qs.qsig >> 8) & 15)
             OR ((s.sig >> 12) & 15) = ((qs.qsig >> 12) & 15))
        SELECT vec_id AS id,
               round({_DOT_SQL.format(a="embedding", b="qv")}
                     / (sqrt({_DOT_SQL.format(a="embedding", b="embedding")})
                        * sqrt({_DOT_SQL.format(a="qv", b="qv")})), 6) + 0.0
                   AS cosine
        FROM cand, q ORDER BY cosine DESC, vec_id LIMIT 10""",
    note="same md5-derived signature math as sim_ann_lsh_topk, but the "
    "engine path materializes the signature table partitioned by "
    "(band, bucket) and the query reads ONLY its own partitions "
    "(directory pruning) — identical results, file I/O ∝ candidates",
)
def sim_ann_index(spark, sf):
    import hashlib as _h
    import os as _os

    from ..operators.similarity import ann_index_topk, build_ann_index

    e = _t(spark, sf, "embeddings")
    idx = _os.path.join(
        "/tmp",
        "vds_ann_index_" + _h.sha256(sf.encode()).hexdigest()[:12],
    )
    if not _os.path.exists(_os.path.join(idx, "_SUCCESS")):
        build_ann_index(e, "embedding", "vec_id", dim=64, out_path=idx)
    return ann_index_topk(spark, idx, _query_vec(spark, sf), k=10)


@q(
    "sim_ann_upsert_topk",
    "similarity: INCREMENTAL index maintenance — build from half the "
    "corpus, upsert_ann_index folds the other half in by rewriting only "
    "touched (band,bucket) partitions; the result must equal a full "
    "rebuild (operators/similarity.py upsert_ann_index)",
    f"""WITH {_SIGS_SQL},
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0),
        cand AS (
          SELECT e.vec_id, e.embedding
          FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id CROSS JOIN qs
          WHERE ((s.sig >> 0) & 15) = ((qs.qsig >> 0) & 15)
             OR ((s.sig >> 4) & 15) = ((qs.qsig >> 4) & 15)
             OR ((s.sig >> 8) & 15) = ((qs.qsig >> 8) & 15)
             OR ((s.sig >> 12) & 15) = ((qs.qsig >> 12) & 15))
        SELECT vec_id AS id,
               round({_DOT_SQL.format(a="embedding", b="qv")}
                     / (sqrt({_DOT_SQL.format(a="embedding", b="embedding")})
                        * sqrt({_DOT_SQL.format(a="qv", b="qv")})), 6) + 0.0
                   AS cosine
        FROM cand, q ORDER BY cosine DESC, vec_id LIMIT 10""",
    note="the oracle is the FULL-corpus LSH result: build(evens) + "
    "upsert(odds) must be indistinguishable from build(all) — a stale or "
    "missing row in any touched partition hash-mismatches",
)
def sim_ann_upsert(spark, sf):
    import hashlib as _h
    import os as _os

    from ..operators.similarity import (
        ann_index_topk,
        build_ann_index,
        upsert_ann_index,
    )

    e = _t(spark, sf, "embeddings")
    idx = _os.path.join(
        "/tmp",
        "vds_ann_upsert_" + _h.sha256(sf.encode()).hexdigest()[:12],
    )
    sentinel = _os.path.join(idx, "_UPSERT_DONE")
    if not _os.path.exists(sentinel):
        build_ann_index(
            e.filter(F.col("vec_id") % 2 == 0),
            "embedding", "vec_id", dim=64, out_path=idx,
        )
        upsert_ann_index(
            e.filter(F.col("vec_id") % 2 == 1),
            "embedding", "vec_id", dim=64, out_path=idx,
        )
        with open(sentinel, "w") as fh:
            fh.write("ok")
    return ann_index_topk(spark, idx, _query_vec(spark, sf), k=10)


@q(
    "dd_minhash_capped",
    "hot-bucket cap semantics under the (now default) bounded mode: a "
    "planted clone family over the cap is dropped wholesale; a small "
    "clone pair survives (operators/dedup.py _cap_hot_groups)",
    f"""WITH fix AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 100
          UNION ALL
          SELECT 900000 + i,
                 (SELECT text FROM documents WHERE doc_id = 0)
          FROM range(12) t(i)
          UNION ALL
          SELECT 910000 + i,
                 (SELECT text FROM documents WHERE doc_id = 1)
          FROM range(2) t(i)
        ), sh AS (
          SELECT doc_id, {_SHINGLE_SQL} AS s FROM fix
        ), sig AS (
          SELECT doc_id,
                 [{", ".join(f"list_min(list_transform(s, x -> md5(x || ':{i}')))" for i in range(8))}] AS mh
          FROM sh
        ), bands AS (
          SELECT doc_id, b.band,
                 md5(mh[b.band*2+1] || '|' || mh[b.band*2+2]) AS bucket
          FROM sig, (SELECT unnest([0,1,2,3]) AS band) b
        ), ok AS (
          SELECT band, bucket FROM bands
          GROUP BY band, bucket HAVING count(*) <= 8
        ), bands_ok AS (
          SELECT bands.* FROM bands JOIN ok USING (band, bucket)
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands_ok a JOIN bands_ok b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(len(list_filter(list_transform(generate_series(1, 8),
                     i -> sa.mh[i] = sb.mh[i]), x -> x)) / 8.0, 4) AS est_jaccard
        FROM pairs JOIN sig sa ON sa.doc_id = id_a
                   JOIN sig sb ON sb.doc_id = id_b
        ORDER BY id_a, id_b""",
    note="13 clones of doc 0 (incl. itself) overflow every band bucket at "
    "cap 8 -> the family reports NO pairs; doc 1 + its 2 clones stay under "
    "the cap -> their pairs survive. The oracle replicates the whole-group "
    "drop, so a silent or sampled truncation would hash-mismatch",
)
def dd_minhash_capped(spark, sf):
    from ..operators.dedup import minhash_lsh_candidates

    d = _t(spark, sf, "documents")
    base = d.filter(F.col("doc_id") < 100).select("doc_id", "text")
    t0 = d.filter(F.col("doc_id") == 0).select("text")
    t1 = d.filter(F.col("doc_id") == 1).select("text")
    clones0 = t0.crossJoin(spark.range(12)).select(
        (F.lit(900000) + F.col("id")).alias("doc_id"), "text"
    )
    clones1 = t1.crossJoin(spark.range(2)).select(
        (F.lit(910000) + F.col("id")).alias("doc_id"), "text"
    )
    fix = base.unionByName(clones0).unionByName(clones1)
    return minhash_lsh_candidates(
        fix, "text", "doc_id", k=8, bands=4, max_bucket_size=8
    ).orderBy("id_a", "id_b")


@q(
    "dd_ngram_capped",
    "shingle-df cap semantics under the (now default) bounded mode: "
    "boilerplate shingles leave the join but still count toward set sizes "
    "(lower-bound Jaccard)",
    f"""WITH fix AS (
          SELECT doc_id, text || ' THEQUICKBROWNFOXJUMPS' AS text
          FROM documents WHERE doc_id < 80
          UNION ALL
          SELECT 950000 + i,
                 (SELECT text FROM documents WHERE doc_id = 0)
                     || ' THEQUICKBROWNFOXJUMPS'
          FROM range(2) t(i)
        ), sh AS (
          SELECT doc_id, unnest({_SHINGLE_SQL}) AS s FROM fix
        ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        ok AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
        sh_ok AS (SELECT sh.* FROM sh JOIN ok USING (s)),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM sh_ok a JOIN sh_ok b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(n_common / (na.n + nb.n - n_common), 4) AS jaccard
        FROM common JOIN sizes na ON na.doc_id = id_a
                    JOIN sizes nb ON nb.doc_id = id_b
        WHERE n_common / (na.n + nb.n - n_common) >= 0.3
        ORDER BY id_a, id_b""",
    note="every doc carries the same boilerplate suffix (df=82 > cap 50 -> "
    "its internal shingles leave the join); the planted doc-0 clone pair "
    "still clears the 0.3 threshold on genuine overlap with sizes counting "
    "the capped shingles — the documented lower-bound semantics, "
    "value-checked",
)
def dd_ngram_capped(spark, sf):
    from ..operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    suffixed = F.concat(F.col("text"), F.lit(" THEQUICKBROWNFOXJUMPS"))
    base = d.filter(F.col("doc_id") < 80).select(
        "doc_id", suffixed.alias("text")
    )
    planted = (
        d.filter(F.col("doc_id") == 0)
        .select(suffixed.alias("text"))
        .crossJoin(spark.range(2))
        .select((F.lit(950000) + F.col("id")).alias("doc_id"), "text")
    )
    fix = base.unionByName(planted)
    return ngram_jaccard_pairs(
        fix, "text", "doc_id", threshold=0.3, max_shingle_df=50
    ).orderBy("id_a", "id_b")


@q(
    "samp_shuffle",
    "corpus prep: deterministic pseudo-random training order "
    "(operators/corpus.py shuffle_corpus — md5-fraction shard + "
    "per-shard rank; one hash per row covers both)",
    """WITH f AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(
                     md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 15))
                     AS UBIGINT) / POWER(16, 15) AS frac
          FROM documents
        )
        SELECT doc_id,
               CAST(floor(frac * 8.0) AS BIGINT) AS shuffle_shard,
               CAST(row_number() OVER (
                   PARTITION BY CAST(floor(frac * 8.0) AS BIGINT)
                   ORDER BY frac, doc_id) AS BIGINT) AS shuffle_rank
        FROM f ORDER BY shuffle_shard, shuffle_rank""",
    note="per-shard row_number windows (never a global order-by); at "
    "100 TB one shuffle on the shard key, O(1) window state",
)
def samp_shuf(spark, sf):
    from ..operators.corpus import shuffle_corpus

    return shuffle_corpus(
        _t(spark, sf, "documents").select("doc_id"), "doc_id", n_shards=8
    ).orderBy("shuffle_shard", "shuffle_rank")


@q(
    "samp_hash_split",
    "corpus prep: deterministic train/val/test hash split "
    "(operators/corpus.py hash_split — stable under data growth, "
    "engine-reproducible md5 fraction)",
    """WITH f AS (
          SELECT CAST(concat('0x', substring(
                     md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 15))
                     AS UBIGINT) / POWER(16, 15) AS frac
          FROM documents
        )
        SELECT CASE WHEN frac < 0.75 THEN 'train'
                    WHEN frac < 0.875 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n
        FROM f GROUP BY 1 ORDER BY split""",
    note="cumulative weights 0.75/0.125/0.125 are exact binary fractions, "
    "so the Spark-side python cumsum and the SQL literals are bit-equal "
    "(0.9+0.05 would differ in the 16th digit)",
)
def samp_split(spark, sf):
    from ..operators.corpus import hash_split

    d = _t(spark, sf, "documents")
    return (
        hash_split(
            d, "doc_id",
            weights={"train": 0.75, "val": 0.125, "test": 0.125},
        )
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .orderBy("split")
    )


@q(
    "tx_chunk_documents",
    "corpus prep: fixed-width character chunking with overlap "
    "(operators/corpus.py chunk_documents — sequence+posexplode fan-out, "
    "no shuffle)",
    """WITH d AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id < 50 AND length(text) > 0
        ), s AS (
          SELECT doc_id, text,
                 unnest(generate_series(0, greatest(length(text) - 21, 0),
                                        80)) AS chunk_start
          FROM d
        )
        SELECT doc_id,
               CAST(chunk_start / 80 AS INTEGER) AS chunk_idx,
               CAST(chunk_start AS INTEGER) AS chunk_start,
               substring(text, CAST(chunk_start AS INTEGER) + 1, 100)
                   AS chunk_text
        FROM s ORDER BY doc_id, chunk_idx""",
)
def tx_chunk(spark, sf):
    from ..operators.corpus import chunk_documents

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return chunk_documents(
        d, "text", "doc_id", chunk_chars=100, overlap=20
    ).orderBy("doc_id", "chunk_idx")


@q(
    "decon_contamination",
    "corpus prep: benchmark-contamination report — fraction of each "
    "benchmark doc's 8-gram shingles present anywhere in the corpus "
    "(operators/corpus.py contamination_report; train/test-leak check)",
    """WITH corpus AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
                   generate_series(1, greatest(length(lower(text))-7, 1)),
                   i -> substring(lower(text), i, 8)))) AS s
          FROM documents WHERE doc_id < 200
        ), bench AS (
          SELECT 9000 + doc_id AS bench_id, text FROM documents
          WHERE doc_id < 3
          UNION ALL
          SELECT 9100 + i, repeat('qzx7', 40) || CAST(i AS VARCHAR)
          FROM range(2) t(i)
        ), bsh AS (
          SELECT DISTINCT bench_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(length(lower(text))-7, 1)),
                   i -> substring(lower(text), i, 8)))) AS s
          FROM bench
        ), tot AS (
          SELECT bench_id, CAST(count(*) AS BIGINT) AS n_shingles
          FROM bsh GROUP BY 1
        ), hit AS (
          SELECT bench_id, CAST(count(*) AS BIGINT) AS n_contaminated
          FROM bsh WHERE s IN (SELECT s FROM corpus) GROUP BY 1
        )
        SELECT tot.bench_id, n_shingles,
               CAST(coalesce(n_contaminated, 0) AS BIGINT)
                   AS n_contaminated,
               round(coalesce(n_contaminated, 0) / n_shingles, 4)
                   AS contamination
        FROM tot LEFT JOIN hit USING (bench_id)
        ORDER BY bench_id""",
    note="three planted leaks (verbatim copies of corpus docs 0-2 -> "
    "contamination 1.0) plus two clean synthetic docs; the oracle "
    "recomputes the exact shingle-overlap fractions",
)
def decon_contamination(spark, sf):
    from ..operators.corpus import contamination_report

    d = _t(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") < 200)
    leaked = d.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 9000).alias("bench_id"), "text"
    )
    clean = spark.range(2).select(
        (F.col("id") + 9100).alias("bench_id"),
        F.concat(
            F.repeat(F.lit("qzx7"), 40), F.col("id").cast("string")
        ).alias("text"),
    )
    bench = leaked.unionByName(clean)
    return contamination_report(
        corpus, bench, "text", "bench_id", shingle_k=8
    ).orderBy("bench_id")


@q(
    "tx_tfidf_top_terms",
    "corpus prep: top-k characteristic terms per doc by smoothed tf-idf "
    "(operators/corpus.py tfidf_top_terms — tokenize/explode, two "
    "vocabulary-keyed aggs, window top-k; pure JVM)",
    r"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
        toks AS (
          SELECT doc_id, t AS term
          FROM d, unnest(string_split_regex(lower(text), '\s+')) AS u(t)
          WHERE t <> ''
        ),
        tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM toks GROUP BY 1, 2
        ),
        dfreq AS (
          SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
          FROM toks GROUP BY 1
        ),
        n AS (SELECT count(*) AS n FROM d),
        scored AS (
          SELECT doc_id, term, tf, doc_freq,
                 round(tf * (ln((n + 1.0) / (doc_freq + 1)) + 1.0), 4)
                     AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ),
        r AS (
          SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY score DESC, term) AS rn
          FROM scored)
        SELECT doc_id, term, tf, doc_freq, score
        FROM r WHERE rn <= 3 ORDER BY doc_id, term""",
    note="rank runs on the 4-decimal ROUNDED score with a term tiebreak, "
    "so a 1-ulp ln() difference between engines cannot flip the top-k",
)
def tx_tfidf(spark, sf):
    from ..operators.corpus import tfidf_top_terms

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    return tfidf_top_terms(d, "text", "doc_id", k=3).orderBy(
        "doc_id", "term"
    )


@q(
    "j8_asof_join",
    "CDC point-in-time lookup: AS-OF join (operators/asof.py — tagged "
    "union spine + running last(ignorenulls) carry, ONE shuffle, never a "
    "range cross join)",
    """WITH v AS (
          SELECT event_id, user_id FROM events
          WHERE event_type = 'view' AND event_id < 2000
        ), c AS (
          SELECT user_id, event_id, value FROM events
          WHERE event_type = 'click'
        )
        SELECT v.event_id, v.user_id,
               c.event_id AS click_event_id_asof,
               c.value AS click_value_asof
        FROM v ASOF LEFT JOIN c
          ON v.user_id = c.user_id AND v.event_id >= c.event_id
        ORDER BY v.event_id""",
    note="DuckDB's native ASOF JOIN is the oracle — for every view event, "
    "the latest same-user click at or before it (nulls when none)",
)
def j8_asof(spark, sf):
    from ..operators.asof import asof_join

    ev = _t(spark, sf, "events")
    views = ev.filter(
        (F.col("event_type") == "view") & (F.col("event_id") < 2000)
    ).select("event_id", "user_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "value"
    )
    return asof_join(
        views,
        clicks,
        on=["user_id"],
        left_ord="event_id",
        right_ord="event_id",
        right_cols=["event_id", "value"],
    ).select(
        "event_id",
        "user_id",
        F.col("event_id_asof").alias("click_event_id_asof"),
        F.col("value_asof").alias("click_value_asof"),
    ).orderBy("event_id")


def _wrap(fn: Callable) -> Callable:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_shipped(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


@q(
    "dd_editdist_verify",
    "near-dup PRECISION gate: exact normalized Levenshtein verification "
    "of candidate pairs (operators/dedup.py verify_pairs_editdist — JVM "
    "levenshtein in whole-stage codegen, shuffle ∝ pairs + docs, cost "
    "bounded by the max_chars prefix; candidates come from a banded "
    "recall pass, never a cross join). Fixture plants true near-dups "
    "(doc || ' tail x') and cross-pairs of unrelated docs",
    """WITH d AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 100
        ),
        docs2 AS (
          SELECT doc_id*2 AS id, text FROM d
          UNION ALL SELECT doc_id*2+1, text || ' tail x' FROM d
        ),
        pairs AS (
          SELECT doc_id*2 AS id_a, doc_id*2+1 AS id_b FROM d
          UNION ALL
          SELECT doc_id*2, (doc_id+1)*2+1 FROM d WHERE doc_id < 99
        ),
        j AS (
          SELECT p.id_a, p.id_b,
                 levenshtein(substring(a.text, 1, 2000),
                             substring(b.text, 1, 2000)) AS edit_dist,
                 greatest(greatest(len(substring(a.text, 1, 2000)),
                                   len(substring(b.text, 1, 2000))), 1)
                     AS mx
          FROM pairs p
          JOIN docs2 a ON a.id = p.id_a JOIN docs2 b ON b.id = p.id_b
        )
        SELECT id_a, id_b, CAST(edit_dist AS BIGINT) AS edit_dist,
               round(edit_dist / mx, 4) + 0.0 AS edit_ratio
        FROM j WHERE round(edit_dist / mx, 4) <= 0.1
        ORDER BY id_a, id_b""",
    note="true pairs pass at ratio 7/(len+7); cross-pairs of distinct "
    "synthetic docs verify the reject side (and if the corpus happens "
    "to contain a genuinely near-identical cross pair, both engines "
    "keep it — the oracle IS the same math). max_chars truncation is "
    "applied before the distance on both sides",
)
def dd_editdist_q(spark, sf):
    from ..operators.dedup import verify_pairs_editdist

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    did = F.col("doc_id")
    base = d.select((did * 2).alias("id"), "text")
    mod = d.select(
        (did * 2 + 1).alias("id"),
        F.concat(F.col("text"), F.lit(" tail x")).alias("text"),
    )
    docs2 = base.unionByName(mod)
    pairs = d.select(
        (did * 2).alias("id_a"), (did * 2 + 1).alias("id_b")
    ).unionByName(
        d.filter(did < 99).select(
            (did * 2).alias("id_a"), ((did + 1) * 2 + 1).alias("id_b")
        )
    )
    out = verify_pairs_editdist(pairs, docs2, "text", "id", max_ratio=0.1)
    return out.select(
        "id_a",
        "id_b",
        F.col("edit_dist").cast("long").alias("edit_dist"),
        (F.col("edit_ratio") + F.lit(0.0)).alias("edit_ratio"),
    ).orderBy("id_a", "id_b")


@q(
    "dd_dedup_clusters",
    "near-dup CLUSTERING: transitive closure over minhash candidate pairs "
    "-> one cluster_id + canonical keeper per doc, singletons included "
    "(operators/dedup.py dedup_clusters; reference closure analog "
    "internal/merger/merger.go:74-105)",
    f"""WITH RECURSIVE fix AS (
          SELECT 900000 + i AS doc_id,
                 (SELECT text FROM documents WHERE doc_id = 0) AS text
          FROM range(5) t(i)
          UNION ALL
          SELECT 910000 + i,
                 (SELECT text FROM documents WHERE doc_id = 1)
          FROM range(3) t(i)
          UNION ALL
          SELECT 920000 + i,
                 (SELECT text FROM documents WHERE doc_id = 2)
          FROM range(1) t(i)
          UNION ALL
          SELECT 930000 + i,
                 (SELECT text FROM documents WHERE doc_id = 3)
          FROM range(2) t(i)
        ), sh AS (
          SELECT doc_id, {_SHINGLE_SQL} AS s FROM fix
        ), sig AS (
          SELECT doc_id,
                 [{", ".join(f"list_min(list_transform(s, x -> md5(x || ':{i}')))" for i in range(8))}] AS mh
          FROM sh
        ), bands AS (
          SELECT doc_id, b.band,
                 md5(mh[b.band*2+1] || '|' || mh[b.band*2+2]) AS bucket
          FROM sig, (SELECT unnest([0,1,2,3]) AS band) b
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id <> b.doc_id
        ), reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM fix
          UNION
          SELECT r.src, p.b FROM reach r JOIN pairs p ON r.dst = p.a
        )
        SELECT src AS doc_id, min(dst) AS cluster_id,
               min(dst) = src AS is_keeper
        FROM reach GROUP BY src ORDER BY doc_id""",
    note="fixture plants clone families of sizes 5/3/1/2 from four base "
    "texts; the engine runs minhash_lsh_candidates (uncapped) then "
    "dedup_clusters with all_ids for the singleton; the oracle computes "
    "the SAME candidate pairs in SQL and closes them with a recursive "
    "CTE — a non-transitive or pairs-only dedup would mismatch on the "
    "cluster assignment, a missing-singleton bug on row count",
)
def dd_dedup_clusters_q(spark, sf):
    from ..operators.dedup import dedup_clusters, minhash_lsh_candidates

    d = _t(spark, sf, "documents")
    fams = []
    for base_id, start, n in [
        (0, 900000, 5), (1, 910000, 3), (2, 920000, 1), (3, 930000, 2)
    ]:
        t = d.filter(F.col("doc_id") == base_id).select("text")
        fams.append(
            t.crossJoin(spark.range(n)).select(
                (F.lit(start) + F.col("id")).alias("doc_id"), "text"
            )
        )
    fix = fams[0]
    for f in fams[1:]:
        fix = fix.unionByName(f)
    pairs = minhash_lsh_candidates(
        fix, "text", "doc_id", k=8, bands=4, max_bucket_size=None
    )
    return dedup_clusters(
        pairs, all_ids=fix.select("doc_id"), id_col="doc_id"
    ).orderBy("doc_id")


@q(
    "corpus_prepare",
    "composed training-corpus prep pipeline: exact dedup -> quality/lang "
    "filter -> minhash near-dup clusters (keep canonical) -> hash split "
    "(pipelines/corpus_prep.py prepare_training_corpus; reference flow "
    "analog internal/jobs/server.go:864-907 re-targeted at documents)",
    f"""WITH RECURSIVE d AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 300
        ), ex AS (
          SELECT min(doc_id) AS doc_id FROM d GROUP BY text
        ), d1 AS (
          SELECT d.doc_id, d.text FROM d JOIN ex USING (doc_id)
        ), q AS (
          SELECT doc_id, round((
             least(length(text) / 500.0, 1.0)
           + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                       / (length(text) + 1.0) <= 0.1 THEN 1.0
                  ELSE greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                       / (length(text) + 1.0) - 0.1) * 5.0) END
           + CASE WHEN length(text) / (len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) + 1.0)
                       BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END
          ) / 3.0, 4) AS quality
          FROM d1
        ), sw AS (
          SELECT doc_id,
                 {_HITS_SQL.format(bank=_BANKS_SQL["en"])} AS en_h,
                 {_HITS_SQL.format(bank=_BANKS_SQL["de"])} AS de_h,
                 {_HITS_SQL.format(bank=_BANKS_SQL["es"])} AS es_h,
                 {_HITS_SQL.format(bank=_BANKS_SQL["fr"])} AS fr_h
          FROM d1
        ), l AS (
          SELECT doc_id,
                 CASE WHEN greatest(en_h, de_h, es_h, fr_h) = 0 THEN 'und'
                      WHEN en_h = greatest(en_h, de_h, es_h, fr_h) THEN 'en'
                      WHEN de_h = greatest(en_h, de_h, es_h, fr_h) THEN 'de'
                      WHEN es_h = greatest(en_h, de_h, es_h, fr_h) THEN 'es'
                      ELSE 'fr' END AS pred_lang
          FROM sw
        ), d2 AS (
          SELECT d1.doc_id, d1.text, q.quality, l.pred_lang
          FROM d1 JOIN q USING (doc_id) JOIN l USING (doc_id)
          WHERE q.quality >= 0.4 AND l.pred_lang IN ('en')
        ), sh AS (
          SELECT doc_id, {_SHINGLE_SQL} AS s FROM d2
        ), sig AS (
          SELECT doc_id,
                 [{", ".join(f"list_min(list_transform(s, x -> md5(x || ':{i}')))" for i in range(8))}] AS mh
          FROM sh
        ), bnd AS (
          SELECT doc_id, b.band,
                 md5(mh[b.band*2+1] || '|' || mh[b.band*2+2]) AS bucket
          FROM sig, (SELECT unnest([0,1,2,3]) AS band) b
        ), cand AS (
          SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM bnd a JOIN bnd b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id <> b.doc_id
        ), pairs AS (
          SELECT c.a, c.b FROM cand c
          JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          WHERE len(list_filter(list_transform(generate_series(1, 8),
                i -> sa.mh[i] = sb.mh[i]), x -> x)) / 8.0 >= 0.5
        ), reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM d2
          UNION
          SELECT r.src, p.b FROM reach r JOIN pairs p ON r.dst = p.a
        ), cl AS (
          SELECT src AS doc_id, min(dst) AS cid FROM reach GROUP BY src
        ), kept AS (
          SELECT d2.doc_id, d2.pred_lang, d2.quality
          FROM d2 JOIN cl USING (doc_id) WHERE cl.cid = d2.doc_id
        ), f AS (
          SELECT doc_id, pred_lang, quality,
                 CAST(concat('0x', substring(
                     md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 15))
                     AS UBIGINT) / POWER(16, 15) AS frac
          FROM kept
        )
        SELECT doc_id, pred_lang, quality,
               CASE WHEN frac < 0.75 THEN 'train'
                    WHEN frac < 0.875 THEN 'val'
                    ELSE 'test' END AS split
        FROM f ORDER BY doc_id""",
    note="the oracle recomputes EVERY stage (text-group dedup = the "
    "sha256 keep-min-id, quality/lang exprs, minhash pairs + recursive "
    "closure keepers, md5-fraction split) — a wrong stage order, a "
    "filter applied pre-dedup, or a non-canonical keeper choice all "
    "change the surviving id set and hash-mismatch",
)
def corpus_prepare_q(spark, sf):
    from ..pipelines.corpus_prep import prepare_training_corpus

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return prepare_training_corpus(
        d,
        min_quality=0.4,
        languages=("en",),
        max_bucket_size=None,
        split_weights={"train": 0.75, "val": 0.125, "test": 0.125},
    ).orderBy("doc_id")


@q(
    "samp_stratified",
    "corpus prep: deterministic per-stratum sampling (downsample dominant "
    "languages, keep rare ones whole — operators/corpus.py "
    "stratified_sample; md5-fraction, partitioning-independent, unlike "
    "sampleBy's per-task RNG)",
    """WITH f AS (
          SELECT doc_id, lang,
                 CAST(concat('0x', substring(
                     md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 15))
                     AS UBIGINT) / POWER(16, 15) AS frac
          FROM documents
        )
        SELECT doc_id, lang FROM f
        WHERE frac < CASE lang WHEN 'en' THEN 0.25
                               WHEN 'zh' THEN 1.0
                               ELSE 0.5 END
        ORDER BY doc_id""",
    note="en downsampled to 25%, zh kept whole, everything else at the "
    "50% default — the exact kept-id set (not just counts) must match, "
    "so a partitioning-dependent or non-deterministic sampler fails",
)
def samp_stratified_q(spark, sf):
    from ..operators.corpus import stratified_sample

    return (
        stratified_sample(
            _t(spark, sf, "documents"),
            "lang",
            "doc_id",
            fractions={"en": 0.25, "zh": 1.0},
            default_fraction=0.5,
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@q(
    "tx_pack_sequences",
    "corpus prep: concatenate-then-cut sequence packing — every doc gets "
    "its (shard, sequence, offset) position in fixed-budget training "
    "sequences (operators/corpus.py pack_sequences; per-shard running "
    "sums, one shuffle, O(1) window state)",
    """WITH s AS (
          SELECT doc_id, n_chars, doc_id % 8 AS pack_shard,
                 CAST(sum(n_chars) OVER (
                   PARTITION BY doc_id % 8 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - n_chars AS BIGINT) AS start
          FROM documents
        )
        SELECT doc_id, pack_shard,
               CAST(floor(start / 4096.0) AS BIGINT) AS seq_id,
               start % 4096 AS seq_offset
        FROM s ORDER BY doc_id""",
    note="weights = n_chars, budget 4096, shard = doc_id % 8; the oracle "
    "is the same running-sum window — an off-by-one in the straddle "
    "semantics (tail flowing into the next sequence) shifts every "
    "downstream offset and hash-mismatches. The running sum is CAST to "
    "BIGINT in the oracle: DuckDB window sum() yields HUGEINT, which "
    "pandas widens to float64 and dtype-sensitive canonicalizers then "
    "hash differently from Spark's int64 even on equal values",
)
def tx_pack_sequences_q(spark, sf):
    from ..operators.corpus import pack_sequences

    d = _t(spark, sf, "documents").withColumn(
        "shard8", (F.col("doc_id") % 8).cast("long")
    )
    return (
        pack_sequences(
            d, "doc_id", "n_chars", budget=4096, shard_col="shard8"
        )
        .select("doc_id", "pack_shard", "seq_id", "seq_offset")
        .orderBy("doc_id")
    )


@q(
    "ev_sessionize",
    "analytics: gaps-and-islands sessionization over the event stream "
    "(operators/sessions.py sessionize/session_stats; one shuffle, LAG + "
    "running-SUM windows share a single Exchange/Sort)",
    """WITH o AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                              > 600000000
                      THEN 1 ELSE 0 END AS brk
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT *, CAST(sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS session_idx
          FROM o
        )
        SELECT user_id, session_idx, count(*) AS n_events,
               min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
               max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
        FROM s GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx""",
    note="gap 600s, event_id tiebreak under equal ts; the oracle rebuilds "
    "the islands with the same LAG/SUM windows — a sessionizer that "
    "breaks on >= instead of > (or loses the tiebreak) renumbers "
    "sessions and hash-mismatches. Durations as integer micros: no "
    "float drift possible. session_idx CAST BIGINT: DuckDB window sum "
    "is HUGEINT -> float64 in pandas, dtype-hash-mismatching Spark's "
    "int64 on equal values",
)
def ev_sessionize_q(spark, sf):
    from ..operators.sessions import session_stats

    return session_stats(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        gap_seconds=600,
        tiebreak_col="event_id",
    ).orderBy("user_id", "session_idx")


@q(
    "ev_funnel",
    "analytics: ordered-step funnel over the event stream "
    "(operators/sessions.py funnel_steps/funnel_counts; k chained window "
    "expressions over ONE partitioning — a single Exchange/Sort however "
    "deep the funnel, then two map-side-combined aggregates)",
    """WITH s0 AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN event_type = 'view' THEN ts END AS _s0
          FROM events
        ),
        s1 AS (
          SELECT *, CASE WHEN event_type = 'click'
                              AND min(_s0) OVER w IS NOT NULL
                         THEN ts END AS _s1
          FROM s0
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        s2 AS (
          SELECT *, CASE WHEN event_type = 'purchase'
                              AND min(_s1) OVER w IS NOT NULL
                         THEN ts END AS _s2
          FROM s1
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        pk AS (
          SELECT user_id, min(_s0) AS t0, min(_s1) AS t1, min(_s2) AS t2
          FROM s2 GROUP BY user_id
        ),
        c AS (
          SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2
          FROM pk
        )
        SELECT 1 AS step_idx, 'view' AS step_name, n0 AS n_keys,
               round(CASE WHEN n0 > 0 THEN CAST(n0 AS DOUBLE) / n0
                          ELSE 0.0 END, 9) AS conversion FROM c
        UNION ALL
        SELECT 2, 'click', n1,
               round(CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / n0
                          ELSE 0.0 END, 9) FROM c
        UNION ALL
        SELECT 3, 'purchase', n2,
               round(CASE WHEN n0 > 0 THEN CAST(n2 AS DOUBLE) / n0
                          ELSE 0.0 END, 9) FROM c
        ORDER BY step_idx""",
    note="view -> click -> purchase; step i+1 counts only strictly after "
    "a completed step i in (ts, event_id) order (greedy earliest "
    "matching — optimal for subsequence funnels). The oracle chains the "
    "same running-min windows; an at-or-after (frame including CURRENT "
    "ROW) implementation admits same-row completions and mismatches",
)
def ev_funnel_q(spark, sf):
    from ..operators.sessions import funnel_counts

    return funnel_counts(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        "event_type",
        steps=["view", "click", "purchase"],
        tiebreak_col="event_id",
    )


@q(
    "cdc_scd2_history",
    "CDC: Type-2 slowly-changing-dimension history from a keyed changelog "
    "(operators/sessions.py scd2_from_changelog; one shuffle + one LEAD "
    "window, row-for-row with the changelog — never a range join against "
    "the dimension). The incremental-maintenance form is "
    "pipelines/scd_sync.py over the ManifestTable change feed",
    """WITH c AS (
          SELECT user_id, event_id, event_type, value,
                 lead(event_id) OVER (
                   PARTITION BY user_id ORDER BY event_id
                 ) AS _vto
          FROM events
        )
        SELECT user_id, event_type, value,
               event_id AS valid_from_seq, _vto AS valid_to_seq,
               (_vto IS NULL) AS is_current
        FROM c WHERE NOT coalesce(event_type = 'error', false)
        ORDER BY user_id, valid_from_seq""",
    note="events as changelog: key user_id, seq event_id, 'error' rows "
    "are deletes — they CLOSE the preceding version (their seq is its "
    "valid_to) but open none. An implementation that filters deletes "
    "BEFORE the LEAD leaves the pre-delete version open and flips "
    "is_current on ~20% of keys",
)
def cdc_scd2_history_q(spark, sf):
    from ..operators.sessions import scd2_from_changelog

    return scd2_from_changelog(
        _t(spark, sf, "events"),
        key_cols=["user_id"],
        seq_col="event_id",
        val_cols=["event_type", "value"],
        delete_col=F.col("event_type") == "error",
    ).orderBy("user_id", "valid_from_seq")


def _feed_table(spark, sf):
    """Build (once per sf, deterministic /tmp dir) a two-snapshot
    ManifestTable from the events fixture, for the change-feed and
    metadata-count catalog entries. Batch 0 inserts every key (LWW winner
    = max event_id per key); batch 1 updates keys with u%3==0, deletes
    keys with u%3==1, and inserts 10 brand-new keys. Epoch replay makes
    rebuilds converge to the same state."""
    import hashlib as _h
    import os as _os

    from ..sinks.manifest_table import ManifestTable
    from ..streaming.pipeline import apply_batch

    root = _os.path.join(
        "/tmp", "vds_cdcfeed_v1_" + _h.sha256(sf.encode()).hexdigest()[:12]
    )
    done = _os.path.join(root, "_CATALOG_DONE")
    if _os.path.exists(done):
        return ManifestTable(spark, root)
    e = _t(spark, sf, "events").filter(F.col("event_id") < 4000)
    u = (F.col("user_id") % 97).cast("long")
    f7 = (F.col("event_id") % 7).cast("long")
    b0 = e.select(
        F.col("event_id").cast("long").alias("commit_seq"),
        F.lit("insert").alias("op"),
        F.concat(F.lit("r"), u.cast("string")).alias("repo"),
        F.concat(F.lit("f"), f7.cast("string"), F.lit(".py")).alias("path"),
        F.concat(F.lit("c"), F.col("event_id").cast("string")).alias(
            "commit"
        ),
        F.lit("python").alias("lang"),
        F.concat(F.lit("v"), F.col("event_id").cast("string")).alias(
            "content"
        ),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("event_id").cast("long").alias("size_bytes"),
    )
    keys = e.select(u.alias("u"), f7.alias("f")).distinct()
    ku, kf = F.col("u"), F.col("f")
    kseq = (ku * 7 + kf).cast("long")
    krepo = F.concat(F.lit("r"), ku.cast("string"))
    kpath = F.concat(F.lit("f"), kf.cast("string"), F.lit(".py"))
    upd = keys.filter(ku % 3 == 0).select(
        (F.lit(10000) + kseq).alias("commit_seq"),
        F.lit("update").alias("op"),
        krepo.alias("repo"),
        kpath.alias("path"),
        F.concat(F.lit("u"), kseq.cast("string")).alias("commit"),
        F.lit("python").alias("lang"),
        F.concat(
            F.lit("upd-"), ku.cast("string"), F.lit("-"), kf.cast("string")
        ).alias("content"),
        F.lit(None).cast("timestamp").alias("ts"),
        kseq.alias("size_bytes"),
    )
    dele = keys.filter(ku % 3 == 1).select(
        (F.lit(20000) + kseq).alias("commit_seq"),
        F.lit("delete").alias("op"),
        krepo.alias("repo"),
        kpath.alias("path"),
        F.concat(F.lit("d"), kseq.cast("string")).alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("size_bytes"),
    )
    new = spark.range(10).select(
        (F.lit(30000) + F.col("id")).alias("commit_seq"),
        F.lit("insert").alias("op"),
        F.concat(F.lit("rn"), F.col("id").cast("string")).alias("repo"),
        F.lit("new.py").alias("path"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("commit"),
        F.lit("python").alias("lang"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("content"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("id").cast("long").alias("size_bytes"),
    )
    table = ManifestTable.create(spark, root, n_buckets=8)
    apply_batch(b0, table, "catalog-feed", 0)
    apply_batch(upd.unionByName(dele).unionByName(new), table,
                "catalog-feed", 1)
    with open(done, "w") as fh:
        fh.write("ok")
    return table


@q(
    "cdc_change_feed",
    "change data feed between two snapshots (ManifestTable.read_changes, "
    "the backbone of every index/agg sync — reference analog: incremental "
    "consumers polling updated_at watermarks, sql/vulnerabilities.sql:"
    "128-132, here row-level exact). Bucket-pruned: scan ∝ touched "
    "buckets, never table size",
    """WITH e AS (
          SELECT user_id % 97 AS u, event_id % 7 AS f, event_id
          FROM events WHERE event_id < 4000
        ),
        s1 AS (SELECT u, f, max(event_id) AS eid FROM e GROUP BY u, f)
        SELECT 'r' || CAST(u AS VARCHAR) AS repo,
               'f' || CAST(f AS VARCHAR) || '.py' AS path,
               'update' AS _change_type,
               CAST(10000 + u*7 + f AS BIGINT) AS commit_seq,
               'upd-' || CAST(u AS VARCHAR) || '-' || CAST(f AS VARCHAR)
                   AS content
        FROM s1 WHERE u % 3 = 0
        UNION ALL
        SELECT 'r' || CAST(u AS VARCHAR),
               'f' || CAST(f AS VARCHAR) || '.py',
               'delete', CAST(eid AS BIGINT), 'v' || CAST(eid AS VARCHAR)
        FROM s1 WHERE u % 3 = 1
        UNION ALL
        SELECT 'rn' || CAST(i AS VARCHAR), 'new.py', 'insert',
               CAST(30000 + i AS BIGINT), 'n' || CAST(i AS VARCHAR)
        FROM generate_series(0, 9) t(i)
        ORDER BY repo, path, _change_type""",
    note="the oracle derives the expected feed analytically from the "
    "batch construction: updates carry NEW values, deletes carry the "
    "last-seen OLD values (LWW winner of batch 0 = max event_id per "
    "key), untouched keys are absent; an engine that diffed physical "
    "rows instead of LIVE per-key state would over-report",
)
def cdc_change_feed_q(spark, sf):
    table = _feed_table(spark, sf)
    snaps = table.snapshots()
    feed = table.read_changes(
        snaps[0]["snapshot_id"], snaps[1]["snapshot_id"]
    )
    return feed.select(
        "repo", "path", "_change_type", "commit_seq", "content"
    ).orderBy("repo", "path", "_change_type")


@q(
    "meta_count_rows",
    "metadata-only COUNT(*): exact live row count answered from manifest "
    "statistics with zero data I/O (ManifestTable.count_rows — the "
    "Iceberg/Delta aggregate-pushdown trick; at 100 TB a compacted "
    "table's COUNT is driver-side JSON arithmetic)",
    """WITH e AS (
          SELECT DISTINCT user_id % 97 AS u, event_id % 7 AS f
          FROM events WHERE event_id < 4000
        )
        SELECT CAST(count(*) FILTER (WHERE u % 3 <> 1) + 10 AS BIGINT)
                   AS n_rows
        FROM e""",
    note="live keys = batch-0 keys minus the u%3==1 tombstoned ones plus "
    "the 10 new inserts; the engine path must subtract per-bucket "
    "tombstone counts from per-file row stats without scanning data",
)
def meta_count_rows_q(spark, sf):
    from pyspark.sql import types as T

    table = _feed_table(spark, sf)
    n = table.count_rows()
    return spark.createDataFrame(
        [(int(n),)],
        T.StructType([T.StructField("n_rows", T.LongType(), False)]),
    )


@q(
    "ev_retention_cohorts",
    "analytics: cohort retention triangle over the event stream "
    "(operators/sessions.py retention_cohorts; two co-partitioned "
    "shuffles on the key + one map-side-combined distinct count — "
    "never a pairwise blowup)",
    """WITH e AS (
          SELECT user_id, epoch_us(ts) // 3600000000 AS p FROM events
        ),
        c AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY user_id)
        SELECT c.cohort AS cohort_period, e.p - c.cohort AS period_n,
               count(DISTINCT e.user_id) AS n_keys
        FROM e JOIN c USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort_period, period_n""",
    note="hourly periods as integer micros div 3600000000 — bit-exact "
    "bucketing in both engines (no date_trunc semantics to disagree "
    "on); the full (cohort x offset) triangle of distinct-user counts "
    "must match cell for cell",
)
def ev_retention_q(spark, sf):
    from ..operators.sessions import retention_cohorts

    return retention_cohorts(
        _t(spark, sf, "events"), "user_id", "ts", period_seconds=3600
    )


@q(
    "j9_interval_join",
    "range-containment join: events matched to the deterministic "
    "interval fixture that contains them (operators/interval.py "
    "interval_join — bucketed equi-join + exact recheck; the naive "
    "BETWEEN spelling is a BroadcastNestedLoopJoin, the 100 TB "
    "scale-killer this operator exists to avoid)",
    """WITH p AS (
          SELECT event_id, user_id FROM events WHERE event_id < 3000
        ), iv AS (
          SELECT o_orderkey AS iv_id,
                 (o_orderkey * 7) % 3000 AS iv_start,
                 (o_orderkey * 7) % 3000 + o_orderkey % 50 AS iv_end
          FROM orders WHERE o_orderkey < 500
        )
        SELECT p.event_id, p.user_id, iv.iv_id, iv.iv_start, iv.iv_end
        FROM p JOIN iv
          ON p.event_id BETWEEN iv.iv_start AND iv.iv_end
        ORDER BY p.event_id, iv.iv_id""",
    note="DuckDB plans the BETWEEN as an IEJoin; Spark side goes through "
    "the bucketed rewrite (width 64) — every (point,interval) pair meets "
    "in exactly one bucket so no dedup step is needed",
)
def j9_interval(spark, sf):
    from ..operators.interval import interval_join

    pts = (
        _t(spark, sf, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "user_id")
    )
    iv = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            F.col("o_orderkey").alias("iv_id"),
            ((F.col("o_orderkey") * 7) % 3000).alias("iv_start"),
            (
                (F.col("o_orderkey") * 7) % 3000 + F.col("o_orderkey") % 50
            ).alias("iv_end"),
        )
    )
    return interval_join(
        pts, iv, "event_id", "iv_start", "iv_end", bucket_width=64
    ).orderBy("event_id", "iv_id")


@q(
    "agg_kmv_distinct",
    "bounded-state distinct count: KMV (k-minimum-values) estimate of "
    "distinct users per event type (operators/sketch.py kmv_distinct — "
    "O(k) state per group per partition, candidate shuffle ∝ "
    "partitions*k, never ∝ distinct keys; deterministic md5-derived "
    "hashes so the estimate is engine-portable bit for bit)",
    """WITH h AS (
          SELECT DISTINCT event_type,
                 CAST(concat('0x', substring(
                     md5(CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT)
                     AS _h
          FROM events WHERE user_id IS NOT NULL
        ), r AS (
          SELECT event_type, _h,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY _h) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS nd
          FROM h
        )
        SELECT event_type,
               CAST(CASE WHEN nd < 64 THEN nd
                    ELSE floor(63.0 * 1152921504606846976.0
                               / CAST(_h AS DOUBLE)) END AS BIGINT)
                   AS est_distinct
        FROM r WHERE rn = least(nd, 64)
        ORDER BY event_type""",
    note="60-bit md5 prefix hash: 63*2^60 is exact in IEEE double (6-bit "
    "mantissa * power of two), so floor((k-1)*2^60/h_k) is bit-identical "
    "across engines; exact count whenever true distinct < k",
)
def agg_kmv(spark, sf):
    from ..operators.sketch import kmv_distinct

    ev = _t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    return kmv_distinct(ev, ["event_type"], "user_id", k=64).orderBy(
        "event_type"
    )


@q(
    "agg_kmv_union",
    "mergeable sketch ALGEBRA: per-segment KMV sketches (one per "
    "event_type) merged into the global distinct-user estimate WITHOUT "
    "rescanning the data (operators/sketch.py kmv_sketch / "
    "kmv_merge_estimate). The 100 TB pattern: persist tiny per-day/"
    "per-source sketch rows once, answer distinct counts over any union "
    "of segments later from sketches alone",
    """WITH h AS (
          SELECT DISTINCT CAST(concat('0x', substring(
                     md5(CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT)
                     AS _h
          FROM events WHERE user_id IS NOT NULL
        ), r AS (
          SELECT _h, row_number() OVER (ORDER BY _h) AS rn,
                 count(*) OVER () AS nd
          FROM h
        )
        SELECT CAST(CASE WHEN nd < 64 THEN nd
                    ELSE floor(63.0 * 1152921504606846976.0
                               / CAST(_h AS DOUBLE)) END AS BIGINT)
                   AS est_distinct
        FROM r WHERE rn = least(nd, 64)""",
    note="the oracle computes the KMV estimate DIRECTLY over the union "
    "of all events — the engine path must reproduce it bit-for-bit from "
    "the per-segment sketches, which holds because sketch union is "
    "exact: a hash among the global k smallest is necessarily among its "
    "own segment's k smallest, so re-ranking the unioned arrays equals "
    "sketching the unioned data",
)
def agg_kmv_union_q(spark, sf):
    from ..operators.sketch import kmv_merge_estimate, kmv_sketch

    ev = _t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=64)
    return kmv_merge_estimate(sk, k=64)


@q(
    "agg_frequent_items",
    "exact heavy hitters: users with >= 70 events via per-partition "
    "Misra-Gries candidate summaries + exact recount of candidates only "
    "(operators/sketch.py frequent_items — candidate shuffle bounded by "
    "partitions*capacity, completeness guard enforced in-plan with "
    "assert_true so an undersized capacity aborts instead of silently "
    "dropping keys)",
    """SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1 HAVING count(*) >= 70
        ORDER BY key""",
    note="output is EXACT (candidates recounted with a plain groupBy), "
    "so the oracle is the straightforward HAVING — the sketch only "
    "bounds the shuffle, it never changes the answer",
)
def agg_freq(spark, sf):
    from ..operators.sketch import frequent_items

    ev = _t(spark, sf, "events")
    return frequent_items(ev, "user_id", min_count=70).orderBy("key")


@q(
    "prof_column_stats",
    "ANALYZE-style table profile: per-column rows/nulls/min/max + KMV "
    "ndv estimate in one scan (operators/profiling.py profile_columns — "
    "stack unpivot feeds two map-side-combined aggs whose shuffles are "
    "<= partitions*cols*k rows, independent of table size; "
    "reference analog: the dashboard stats view "
    "migrations/001_initial_schema.up.sql:132-144 generalized)",
    """WITH u AS (
          SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS val
          FROM events
          UNION ALL
          SELECT 'event_type', event_type FROM events
          UNION ALL
          SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
          UNION ALL
          SELECT 'props', props FROM events
        ), base AS (
          SELECT col_name, count(*) AS n,
                 count(*) - count(val) AS n_null,
                 min(val) AS min_val, max(val) AS max_val
          FROM u GROUP BY col_name
        ), h AS (
          SELECT DISTINCT col_name,
                 CAST(concat('0x', substring(md5(val), 1, 15)) AS UBIGINT)
                     AS _h
          FROM u WHERE val IS NOT NULL
        ), r AS (
          SELECT col_name, _h,
                 row_number() OVER (
                   PARTITION BY col_name ORDER BY _h) AS rn,
                 count(*) OVER (PARTITION BY col_name) AS nd
          FROM h
        ), kmv AS (
          SELECT col_name,
                 CAST(CASE WHEN nd < 256 THEN nd
                      ELSE floor(255.0 * 1152921504606846976.0
                                 / CAST(_h AS DOUBLE)) END AS BIGINT)
                     AS ndv_est
          FROM r WHERE rn = least(nd, 256)
        )
        SELECT base.col_name, n, n_null, min_val, max_val,
               coalesce(kmv.ndv_est, 0) AS ndv_est
        FROM base LEFT JOIN kmv USING (col_name)
        ORDER BY col_name""",
    note="event_id has 10k distinct at sf0.01 so the ESTIMATE branch is "
    "what must match (255*2^60 exact in IEEE double); the other columns "
    "sit below k and take the exact branch; min/max compared as strings "
    "(both engines binary-lexicographic)",
)
def prof_cols(spark, sf):
    from ..operators.profiling import profile_columns

    return profile_columns(
        _t(spark, sf, "events"),
        ["event_id", "event_type", "user_id", "props"],
        k=256,
    ).orderBy("col_name")


@q(
    "agg_rollup_hierarchy",
    "hierarchical subtotal aggregation: ROLLUP(event_type, cohort) with "
    "grouping_id — one shuffle produces every subtotal level "
    "(Catalyst expands grouping sets BEFORE the partial aggregate, so "
    "subtotals get map-side combine too; no per-level rescan)",
    """SELECT event_type, user_id % 10 AS cohort,
              GROUPING(event_type, user_id % 10) AS gid,
              count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18, 6))) AS VARCHAR)
                  AS sum_value
       FROM events
       GROUP BY ROLLUP(event_type, user_id % 10)
       ORDER BY gid, event_type, cohort""",
    note="sum over DECIMAL(18,6), not DOUBLE — decimal addition is "
    "exact integer arithmetic so the subtotal rows cannot drift by a "
    "ulp between engines; compared as strings to dodge decimal-scale "
    "display differences; GROUPING bitmask disambiguates rolled-up "
    "NULLs from data NULLs",
)
def agg_rollup(spark, sf):
    ev = _t(spark, sf, "events").withColumn(
        "cohort", F.col("user_id") % 10
    )
    return (
        ev.rollup("event_type", "cohort")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("string")
            .alias("sum_value"),
        )
        .select("event_type", "cohort", "gid", "n", "sum_value")
        .orderBy("gid", "event_type", "cohort")
    )


@q(
    "q3_shipping_priority",
    "multi-join OLAP (TPC-H Q3 shape): customer ⋈ orders ⋈ lineitem + "
    "group + top-k — Catalyst broadcast-joins the filtered customer dim "
    "and takes the top 10 via TakeOrderedAndProject, never a global sort",
    """SELECT l_orderkey,
              CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18, 4))) AS VARCHAR) AS revenue,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              o_orderpriority
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING'
         AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18, 4))) DESC, o_orderdate, l_orderkey
       LIMIT 10""",
    note="revenue summed over DECIMAL(18,4) — exact integer arithmetic, "
    "no float ordering drift between engines; the per-row product is "
    "rounded identically (both engines round half-up casting DOUBLE to "
    "DECIMAL); emitted as string to dodge trailing-zero display "
    "differences; l_orderkey tiebreak makes the LIMIT deterministic",
)
def q3_shipping(spark, sf):
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
    )
    c = (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("_rev"))
        .orderBy(F.desc("_rev"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.col("_rev").cast("string").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@q(
    "q5_local_supplier_volume",
    "six-way join OLAP (TPC-H Q5 shape): region→nation→customer→orders→"
    "lineitem→supplier with the co-nationality predicate — the small "
    "dims broadcast, the two fact tables meet in ONE shuffled equi-join",
    """SELECT n_name,
              CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18, 4))) AS VARCHAR) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY n_name ORDER BY n_name""",
    note="same DECIMAL(18,4) exact-sum idiom as q3; ORDER BY n_name "
    "(not revenue) so the output order never depends on the measure",
)
def q5_volume(spark, sf):
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
    )
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation").join(
        r, F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = _t(spark, sf, "supplier").join(
        n, F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(
            c,
            (o["o_custkey"] == c["c_custkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(rev.cast("string").alias("revenue"))
        .orderBy("n_name")
    )


@q(
    "w3_lead_lag_gaps",
    "per-key sequence navigation: lag/lead event ids and inter-event "
    "gap in microseconds (one hash-partitioned sort per user — the "
    "window never leaves the key's partition, no global sort)",
    """SELECT user_id, event_id,
              lag(event_id) OVER w AS prev_event_id,
              lead(event_id) OVER w AS next_event_id,
              epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
       FROM events WHERE event_id < 4000
       WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
       ORDER BY user_id, event_id""",
    note="integer-micros arithmetic (unix_micros vs epoch_us) keeps the "
    "gap exact in both engines; event_id is unique so the frame order "
    "is total and lag/lead deterministic",
)
def w3_lead_lag(spark, sf):
    w = W.partitionBy("user_id").orderBy("event_id")
    return (
        _t(spark, sf, "events")
        .filter(F.col("event_id") < 4000)
        .select(
            "user_id",
            "event_id",
            F.lag("event_id").over(w).alias("prev_event_id"),
            F.lead("event_id").over(w).alias("next_event_id"),
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            ).alias("gap_us"),
        )
        .orderBy("user_id", "event_id")
    )


@q(
    "samp_source_quota",
    "corpus prep: deterministic per-domain quota cap — at most k docs per "
    "source, chosen by md5(id||salt) so one crawled host cannot dominate "
    "the mix and reruns/engines agree (operators/corpus.py "
    "source_quota_sample; C4's per-domain URL cap)",
    """WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || 'v1'), doc_id
                 ) AS rn
          FROM documents)
        SELECT doc_id, source FROM r WHERE rn <= 12 ORDER BY doc_id""",
    note="selection order is md5(id||salt) with an id tiebreak — a total "
    "order, so the kept set is identical in any engine; ORDER BY random() "
    "would not be checkable at all",
)
def samp_quota(spark, sf):
    from ..operators.corpus import source_quota_sample

    d = _t(spark, sf, "documents").select("doc_id", "source")
    return source_quota_sample(d, "source", "doc_id", quota=12).orderBy(
        "doc_id"
    )


@q(
    "tx_unigram_quality",
    "corpus prep: CCNet-style corpus-frequency quality signals per doc — "
    "mean corpus token frequency + top-k-vocabulary coverage "
    "(operators/corpus.py unigram_quality; tokenize/explode, one "
    "vocabulary agg, TakeOrdered vocab, broadcast, one doc agg)",
    r"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        toks AS (
          SELECT doc_id, t AS term
          FROM d, unnest(string_split_regex(lower(text), '\s+')) AS u(t)
          WHERE t <> ''
        ),
        cnt AS (
          SELECT term, CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY 1
        ),
        vocab AS (SELECT term FROM cnt ORDER BY c DESC, term LIMIT 50)
        SELECT toks.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS avg_token_freq,
               CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS common_frac
        FROM toks JOIN cnt USING (term) LEFT JOIN vocab v USING (term)
        GROUP BY toks.doc_id ORDER BY toks.doc_id""",
    note="no ln() anywhere: both ratios are one IEEE division of exactly "
    "computed integers, so the doubles are bit-identical across engines; "
    "the vocabulary boundary is tie-broken by term text (total order)",
)
def tx_unigram(spark, sf):
    from ..operators.corpus import unigram_quality

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return unigram_quality(d, "text", "doc_id", vocab_top_k=50).orderBy(
        "doc_id"
    )


@q(
    "decon_index_search",
    "decontamination / takedown probe: PERSISTED inverted token index — "
    "AND-of-terms candidates from md5-prefix-pruned posting-list "
    "partitions, exact-substring recheck on the broadcast candidates "
    "(operators/token_index.py build/search_token_index); the corpus is "
    "never scanned for the search",
    """SELECT doc_id AS id FROM documents
        WHERE contains(lower(text), 'hash join')
          AND list_has_all(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           ['hash', 'join'])
        ORDER BY doc_id""",
    note="the oracle states the engine's exact semantics (token "
    "containment AND verbatim lowercase substring), so index recall "
    "bugs — a posting list missing a doc — fail on row count",
)
def decon_index(spark, sf):
    import hashlib as _h
    import os as _os

    from ..operators.token_index import build_token_index, search_token_index

    d = _t(spark, sf, "documents")
    idx = _os.path.join(
        "/tmp",
        "vds_tok_index_" + _h.sha256(sf.encode()).hexdigest()[:12],
    )
    if not _os.path.exists(_os.path.join(idx, "_SUCCESS")):
        build_token_index(d, "text", "doc_id", idx)
    return search_token_index(
        spark, idx, "hash join", docs=d, text_col="text", id_col="doc_id"
    ).orderBy("id")


@q(
    "dq_validate_report",
    "ops / data contracts: declarative constraint validation with an "
    "exact violation report — not_null / enum domain / range / regex in "
    "ONE aggregate pass, uniqueness via count-distinct, referential "
    "integrity via anti-join (operators/quality_rules.py validate_rules; "
    "reference analog: internal/validator/validator.go field checks)",
    """SELECT 'uid_not_null' AS rule, 'not_null' AS kind, 'user_id' AS col,
              CAST(count(*) FILTER (user_id IS NULL) AS BIGINT)
                  AS violations,
              CAST(count(*) AS BIGINT) AS checked FROM events
       UNION ALL
       SELECT 'etype_domain', 'in_set', 'event_type',
              CAST(count(*) FILTER (event_type IS NOT NULL AND
                   event_type NOT IN ('view','click','purchase','signup'))
                   AS BIGINT),
              CAST(count(*) AS BIGINT) FROM events
       UNION ALL
       SELECT 'value_range', 'range', 'value',
              CAST(count(*) FILTER (value IS NOT NULL AND
                   (value < 0 OR value > 300)) AS BIGINT),
              CAST(count(*) AS BIGINT) FROM events
       UNION ALL
       SELECT 'etype_format', 'regex', 'event_type',
              CAST(count(*) FILTER (event_type IS NOT NULL AND NOT
                   regexp_full_match(event_type, '[a-z]+')) AS BIGINT),
              CAST(count(*) AS BIGINT) FROM events
       UNION ALL
       SELECT 'eid_unique', 'unique', 'event_id',
              CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT),
              CAST(count(event_id) AS BIGINT) FROM events
       UNION ALL
       SELECT 'uid_ref', 'ref', 'user_id',
              CAST(count(*) FILTER (user_id NOT IN
                   (SELECT c_custkey FROM customer)) AS BIGINT),
              CAST(count(*) AS BIGINT)
       FROM events WHERE user_id IS NOT NULL""",
    note="the fixture trips three rules on real data (the 'error' event "
    "type, values above 300, user ids absent from customer) and passes "
    "three — a validator that always reports zero fails on values",
)
def dq_validate(spark, sf):
    from ..operators.quality_rules import validate_rules

    ev = _t(spark, sf, "events")
    cust = _t(spark, sf, "customer")
    rules = [
        {"name": "uid_not_null", "kind": "not_null", "col": "user_id"},
        {
            "name": "etype_domain",
            "kind": "in_set",
            "col": "event_type",
            "values": ["view", "click", "purchase", "signup"],
        },
        {"name": "value_range", "kind": "range", "col": "value",
         "lo": 0, "hi": 300},
        {"name": "etype_format", "kind": "regex", "col": "event_type",
         "pattern": "[a-z]+"},
        {"name": "eid_unique", "kind": "unique", "col": "event_id"},
        {"name": "uid_ref", "kind": "ref", "col": "user_id",
         "ref": cust, "ref_col": "c_custkey"},
    ]
    return validate_rules(ev, rules)


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {qd.name: _wrap(qd.spark_fn) for qd in QUERIES}


def oracle_sql_map() -> dict[str, str]:
    return {qd.name: qd.sql for qd in QUERIES if qd.sql is not None}
