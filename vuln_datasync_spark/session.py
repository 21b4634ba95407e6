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
        # AQE re-plans a join as a broadcast from a side's RUNTIME size:
        # the sync pipelines', operators' and catalog entries' joins
        # against small key or dimension sides (sizes known only after
        # their filters run) skip the shuffle at up to 64m, while
        # backfill-sized sides keep it
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
        # AQE coalescing runs parallelism-first (Spark default) but its
        # 1m minPartitionSize floor still collapses small shuffles to 1-2
        # partitions, serializing every window/aggregate above them. 64k
        # keeps small-input stages parallel; on production-scale shuffles
        # partitions sit far above either floor, so the knob is inert
        # there (it bounds nothing from above).
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.session.timeZone": "UTC",
        # shuffle/spill codec: measured on the 4M-event replay at 1 and 4
        # cores — zstd beats the lz4 default ~5-8% at BOTH widths here
        # (smaller blocks relieve the host's memory-bandwidth wall), and
        # its better ratio is the canonical choice on network-bound
        # clusters.
        "spark.io.compression.codec": "zstd",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        # ManifestTable takes its zone maps from parquet footers. INT96
        # (Spark's default timestamp type) carries no footer stats, so it
        # would read `ts` back from every new file on the driver; INT64
        # micros puts them in the footer. INT96 files still read; their
        # stats were recorded when they were written.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.ui.enabled": "false",
        # corpus prep builds an iterative plan whose rendered text --
        # produced for every AQE re-plan even with the UI off -- outgrows a
        # small driver heap (test_parity.py::test_query_parity
        # [corpus_prepare] runs out of memory at 3g without this bound)
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
    return spark

