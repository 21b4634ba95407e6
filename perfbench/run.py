"""Run one workload of the CDC ingest benchmark and print its metrics.

    python3 perfbench/run.py --workload bulk_backfill --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Every metric is also printed above it, one
per line, with its unit. Exits non-zero when any operation failed or any
row differs from the oracle, and when the package under test is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
MASTER = "local[4]"
DRIVER_MEM = "2g"


def declared_metrics() -> dict:
    """Metric name -> unit for each trace mode, as ``BENCHMARK.json``
    declares them; the run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {trace: {m["name"]: m["unit"] for m in spec[key]}
            for trace, key in ((0, "end_to_end"), (1, "per_layer"))}


def spark_env(run_dir: str) -> dict:
    """Environment set before the JVM starts. The package defaults (a 16g
    pre-touched heap, shuffle files in /dev/shm) do not fit a 15 GiB host
    shared with other work, and every file the run makes stays inside the
    checkout, under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            # compiler threads stay alive, so their CPU can be told apart
            # (spans.tree_cpu_seconds)
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp} "
            f"-XX:ErrorFile={os.path.join(run_dir, 'hs_err_pid%p.log')}"
        ),
        # the spark-submit launcher JVM that runs before the driver
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the package by module path
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def start_session(master: str):
    from vuln_datasync_spark.session import get_spark

    return get_spark("cdc-bench", master=master,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to kill
            proc.kill()
            proc.wait()


def clean_stale_runs() -> None:
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        if not d.startswith("run-"):
            continue
        pid = int(d.split("-")[1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        except PermissionError:
            pass


def end_to_end(w, setup_s: float) -> tuple[dict, list[str]]:
    """The gated metrics, and lines for the figures printed ungated.
    Timed writes are gated as CPU seconds charged to the process tree,
    which hypervisor steal does not inflate; wall-clock times and the
    read calls' CPU are printed beside them (``workloads.ungated``)."""
    from workloads import ungated

    s = w.samples
    m = {
        "setup_s": setup_s,
        "events_per_cpu_s": statistics.median(s["events_per_cpu_s"]),
        "write_amp": w.write_amp(),
        "op_success_ratio": 1.0 - w.failed / w.attempted,
    }
    lines = [f"samples: write passes={len(s['events_per_s'])} "
             f"batches={len(s['batch_s'])} lookups={len(s['lookup_ms'])} "
             f"scans={len(s['scan_s'])} "
             f"changefeeds={len(s['changefeed_s'])}"]
    for name, (v, unit, note) in ungated(s).items():
        lines.append(f"{name} = {v:.6g} {unit} ({note}; not gated)")
    return m, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import vuln_datasync_spark  # noqa: F401
    except ImportError as e:
        print(f"package under test not importable: {e}", file=sys.stderr)
        return 2
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cfg = workloads.WORKLOADS[args.workload]
    units = declared_metrics()[args.trace]

    clean_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        inputs = gen.cached_inputs(WORK, args.workload, cfg["gen"], args.seed)
        env = spark_env(run_dir)
        os.environ.update(env)

        t = time.perf_counter()
        spark = start_session(MASTER)
        session_s = time.perf_counter() - t

        from spans import Tracer

        tracer = Tracer(bool(args.trace), spark)
        w = workloads.Workload(spark, tracer, args.workload, inputs["dir"],
                               os.path.join(run_dir, "tables"),
                               args.seconds)
        phases = {"session": session_s}

        def timed(name, fn, *a):
            t = time.perf_counter()
            out = fn(*a)
            phases[name] = phases.get(name, 0.0) + time.perf_counter() - t
            return out

        timed("oracle", w.prepare_oracle)
        template = timed("preload", w.preload) if w.streams else None
        timed("warm_up", w.warm_up, template)
        # generation is reported on its own, not as set-up
        gen_s = inputs["gen_s"] if inputs["generated"] else 0.0
        setup_s = time.perf_counter() - T_START - gen_s

        if w.streams:
            table = timed("stream", w.stream, template)
        else:
            table = timed("backfill", w.backfill)
        timed("reads", w.reads, table)
        timed("check", w.check_table, table, w.live, "final table rows")
        w.notes.append("phase seconds: " + " ".join(
            f"{k}={v:.1f}" for k, v in phases.items()))

        e2e, lines = end_to_end(w, setup_s)
        if args.trace:
            import layers

            metrics = layers.per_layer(
                w, tracer, session_s, inputs, template,
                os.path.join(WORK, "traces"), start_session, stop_session)
            spark = None  # layers stopped the session it ran on
        else:
            metrics = e2e
        if metrics.keys() != units.keys():
            raise RuntimeError(
                "measured metrics differ from BENCHMARK.json: "
                f"missing {sorted(units.keys() - metrics.keys())}, "
                f"undeclared {sorted(metrics.keys() - units.keys())}")
        for line in lines + w.notes:
            print(line)
        for k, v in sorted(env.items()):
            print(f"override {k}={v}")
        print(f"inputs {inputs['dir']} (generated in {inputs['gen_s']:.2f} s)")
        for k, unit in units.items():
            print(f"{k} = {metrics[k]:.6g} {unit}")
        correct = w.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": w.attempted,
            "failed": w.failed,
            "metrics": {k: {"value": metrics[k], "unit": unit}
                        for k, unit in units.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
