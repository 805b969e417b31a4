"""Benchmark of the paper's arcs: one workload per run, in one process.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs come from ``--seed``; the
program only ever sees the generated files. Spark runs at
``local[nproc]``. Everything the run writes lives under a temporary
directory in the checkout, removed at exit.

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` operations, and ``metrics``. Untraced
(``--trace 0``) the metrics are the end-to-end ones; traced
(``--trace 1``) the per-layer ones, from spans around every call into
the package plus Spark's own counters for that call. Workloads,
templates and metric definitions are documented in ``NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

import data

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "upsert_mixed")

# name -> unit; every run prints all of them
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "index_bytes_per_row": "B",
    "write_rows_per_s": "1/s",
    "write_p50_s": "s",
    "write_p90_s": "s",
    "recall_at_100": "ratio",
}
SPARK_CALLS = {
    "pipeline.ingest": "ingest",
    "pipeline.index": "index",
    "pipeline.pqindex": "pqindex",
    "operators.topk": "per_query_topk",
    "pipeline.report": "report",
    "streaming.upsert.prepare": "upsert_prepare",
    "streaming.upsert.commit": "upsert_commit",
}
PER_LAYER = {
    "session.start_s": "s",
    "ingest.wall_s": "s",
    "ingest.jobs": "count",
    "ingest.tasks": "count",
    "ingest.executor_cpu_s": "s",
    "ingest.python_cpu_s": "s",
    "ingest.cpu_util": "ratio",
    "embedding.encode_docs_per_s": "1/s",
    "index.wall_s": "s",
    "index.jobs": "count",
    "index.shuffle_write_mb": "MB",
    "index.output_mb": "MB",
    "pqindex.wall_s": "s",
    "pqindex.jobs": "count",
    "pqindex.shuffle_write_mb": "MB",
    "pqindex.output_mb": "MB",
    "topk.per_query_topk.wall_s": "s",
    "topk.per_query_topk.jobs": "count",
    "topk.per_query_topk.tasks": "count",
    "topk.per_query_topk.executor_cpu_s": "s",
    "topk.per_query_topk.qps": "1/s",
    "report.wall_s": "s",
    "report.jobs": "count",
    "report.input_mb": "MB",
    "serving.load_s": "s",
    **{f"serving.service_p50_ms.{t}": "ms" for t in data.TEMPLATE_ORDER},
    **{f"serving.service_p95_ms.{t}": "ms" for t in data.TEMPLATE_ORDER},
    "serving.read_p50_ms": "ms",
    "serving.capacity_qps": "1/s",
    "serving.read_p90_ms": "ms",
    "serving.queue_wait_p95_ms": "ms",
    **{f"serving.recall_at_100.{t}": "ratio" for t in data.TEMPLATE_ORDER},
    "loadgen.late_max_ms": "ms",
    "upsert.prepare_p50_s": "s",
    "upsert.commit_p50_s": "s",
    "upsert.commit_jobs": "count",
    "upsert.batch_rows_mean": "count",
    "upsert.bytes_written_per_update": "B",
    **{f"spark.driver_s.{c}": "s" for c in SPARK_CALLS.values()},
    "spark.jobs_total": "count",
    "spark.tasks_total": "count",
    "host.control_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_control_s() -> float:
    """Fixed pure-Python work: reads host speed, not code."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc ^= i * i
    return time.perf_counter() - t0


def start_spark(tmp: str, nproc: int):
    from external_benchmarks_spark.session import get_spark

    jtmp = os.path.join(tmp, "java-tmp")
    os.makedirs(jtmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.memory": "2g",
            # -Xss: pq_index_filtered_rerank's 2,688-term score expression
            # overflows the default 1 MB thread stack (see NOTES.md)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={jtmp} -Xss64m"
                # a fixed, pre-touched heap: the JVM's share of peak_rss_mb
                # is then its configured size, not GC timing
                " -Xms2g -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, nproc: int) -> None:
    """One job that starts a Python worker on every core."""
    import pandas as pd

    def ident(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    spark.range(nproc * 4, numPartitions=nproc).mapInPandas(ident, "id long").count()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    from spans import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def layer_metrics(run, session_s: float) -> dict:
    """The per-layer metrics; a layer the workload never called reads 0."""
    lay = run.tracer.layers
    get = lambda name, c: lay.get(name, {}).get(c, 0)  # noqa: E731
    m = {k: 0.0 for k in PER_LAYER}
    m.update(run.layer)
    m["session.start_s"] = session_s
    for c in ("wall_s", "jobs", "tasks", "executor_cpu_s", "python_cpu_s"):
        m[f"ingest.{c}"] = get("pipeline.ingest", c)
    if m["ingest.wall_s"]:
        m["ingest.cpu_util"] = (m["ingest.executor_cpu_s"] + m["ingest.python_cpu_s"]) / (
            m["ingest.wall_s"] * run.nproc
        )
    for prefix, name in (("index", "pipeline.index"), ("pqindex", "pipeline.pqindex")):
        for c in ("wall_s", "jobs", "shuffle_write_mb", "output_mb"):
            m[f"{prefix}.{c}"] = get(name, c)
    for c in ("wall_s", "jobs", "tasks", "executor_cpu_s"):
        m[f"topk.per_query_topk.{c}"] = get("operators.topk", c)
    for c in ("wall_s", "jobs", "input_mb"):
        m[f"report.{c}"] = get("pipeline.report", c)
    for name, short in SPARK_CALLS.items():
        m[f"spark.driver_s.{short}"] = get(name, "driver_s")
    m["spark.jobs_total"] = sum(v["jobs"] for v in lay.values())
    m["spark.tasks_total"] = sum(v["tasks"] for v in lay.values())
    m["trace.overhead_s"] = run.tracer.overhead_s
    return {k: float(v) for k, v in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import external_benchmarks_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable here: {exc}", file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata file, so
    # a run writes only inside its checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    spark = None
    try:
        control = host_control_s() if args.trace else 0.0
        t0 = time.perf_counter()
        spark = start_spark(tmp, nproc)
        session_s = time.perf_counter() - t0
        warm_up(spark, nproc)
        warm_s = time.perf_counter() - t0 - session_s
        dataset = data.generate(args.seed, os.path.join(tmp, "input"))
        gen_s = time.perf_counter() - t0 - session_s - warm_s
        run = workloads.Run(
            spark=spark, tracer=Tracer(spark, bool(args.trace)), dataset=dataset,
            tmp=tmp, seconds=args.seconds, nproc=nproc,
        )
        run.setup_s = session_s + warm_s + gen_s
        run.log(f"session {session_s:.1f}s, warm-up {warm_s:.1f}s, input {gen_s:.1f}s")
        if args.trace:
            run.layer["host.control_s"] = control
            run.layer["embedding.encode_docs_per_s"] = workloads.encode_rate(dataset)
        getattr(workloads, args.workload)(run)
        run.e2e["setup_s"] = run.setup_s
        if args.trace:
            metrics = layer_metrics(run, session_s)
            units = PER_LAYER
        else:
            metrics = run.e2e
            units = END_TO_END
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        for what in run.failures:
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        for sp in run.tracer.spans if args.trace else ():
            print("perfbench span " + json.dumps({
                "layer": sp.layer, "start_s": round(sp.start - workloads.T_START, 4),
                "wall_s": round(sp.wall_s, 4), **sp.counters,
            }), file=sys.stderr)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {
                k: {"value": metrics[k], "unit": u} for k, u in units.items()
            },
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
            print(f"perfbench {time.perf_counter() - workloads.T_START:7.1f}s stopped",
                  file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
