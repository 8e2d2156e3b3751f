#!/usr/bin/env python3
"""Benchmark of beast_spark: one workload, one fresh process.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout of the repository, on ``local[nproc]``,
writing only under ``.perfbench_work/`` there (removed at exit). Inputs
come from the seed; outputs are checked for correctness outside the clock.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Lines before it give detail: the
input checksum, sample counts and any check failures. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

WORKLOADS = ("ingest_backlog", "query_mix")
QUERY_MODULES = ("relational", "advanced", "events", "analytic", "curation", "datapipe")

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "engine.trigger_ms": "ms",
    "engine.latest_offset_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.add_batch_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.rows_per_batch": "count",
    "engine.batches": "count",
    "ingest.apply_ms": "ms",
    "ingest.decode_passes_per_batch": "count",
    "ingest.decode_task_ms_per_krow": "ms",
    "protowire.decode_rows_per_s": "1/s",
    "sink.push_ms": "ms",
    "sink.jobs_per_batch": "count",
    "sink.tasks_per_stage": "count",
    "sink.write_attempts": "count",
    "sink.dlq_rows": "count",
    "sink.files_per_batch": "count",
    "ledger.commit_ms": "ms",
    **{
        f"query.{m}.{k}": u
        for m in QUERY_MODULES
        for k, u in (
            ("jobs", "count"),
            ("stages", "count"),
            ("exec_ms", "ms"),
            ("parallelism", "ratio"),
            ("shuffle_bytes", "bytes"),
            ("spill_bytes", "bytes"),
            ("task_skew", "ratio"),
        )
    },
    "traced.setup_s": "s",
    "traced.throughput_per_s": "1/s",
    "traced.latency_p50_ms": "ms",
}


class Run:
    """State of one benchmark run, handed to the workload function."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        from tracing import Spans

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.work = work
        self.spans = Spans()
        self.detail: dict = {}
        self.setup_s = 0.0
        self.warmup_s = 0.0  # the warm-up's share of setup_s
        self.values: dict[str, float] = {}
        self.layer_fn = None  # EventLog -> per-layer dict, set by the workload
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self.spark = None
        self.log_dir = os.path.join(work, "eventlog")

    def start_session(self, extra_conf: dict | None = None):
        """``session.get_spark`` on local[nproc]; its time counts to set-up."""
        from beast_spark.session import get_spark
        from tracing import event_log_conf

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **(extra_conf or {}),
        }
        if self.trace:
            conf.update(event_log_conf(self.log_dir))
        t = time.perf_counter()
        with self.spans.span("session.start"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}", cpus=self.nproc, extra_conf=conf
            )
        self.setup_s += time.perf_counter() - t
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def e2e(self, throughput: float, latency_p50: float) -> None:
        self.values.update(throughput_per_s=throughput, latency_p50_ms=latency_p50)

    def set_outcome(self, attempted: int, failed: int, reasons: list[str]) -> None:
        self.attempted, self.failed = attempted, failed
        self.reasons.extend(reasons)

    def metrics(self) -> dict[str, dict]:
        self.values["setup_s"] = self.setup_s
        if not self.trace:
            return {k: {"value": self.values[k], "unit": u} for k, u in END_TO_END.items()}
        from tracing import EventLog

        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers["session.start_s"] = self.spans.ms("session.start")[0] / 1000.0
        layers["session.warmup_s"] = self.warmup_s
        layers["protowire.decode_rows_per_s"] = decode_rate(self.seed)
        layers.update(self.layer_fn(EventLog(self.log_dir)))
        for k in ("setup_s", "throughput_per_s", "latency_p50_ms"):
            layers[f"traced.{k}"] = self.values[k]
        return {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}


def decode_rate(seed: int, n: int = 20_000, repeats: int = 5) -> float:
    """Single-thread ``compile_decoder`` rate over generated event payloads,
    outside Spark: median messages/s of ``repeats`` passes."""
    import statistics

    import gen
    from ingest import event_schema

    from beast_spark.plans.protowire import compile_decoder

    payloads = gen.encode_events(gen.event_rows(seed, n))
    decode = compile_decoder(event_schema(), True)
    rates = []
    for _ in range(repeats):
        t = time.perf_counter()
        for p in payloads:
            decode(p)
        rates.append(n / (time.perf_counter() - t))
    return statistics.median(rates)


def _prepare_env(work: str, nproc: int) -> None:
    """Environment for the JVM and Python workers Spark starts: the program
    importable, every temporary file under ``work``, and no session or
    ingest setting inherited from the caller."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key in (
            "FAIL_ON_NULL_MESSAGE", "FAIL_ON_DESERIALIZE_ERROR", "FAIL_ON_UNKNOWN_FIELDS",
            "BQ_METADATA_NAMESPACE", "FORCE_PYTHON_DECODE", "PYSPARK_SUBMIT_ARGS",
            "SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS",  # would override spark.local.dir
        ):
            del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "beast_spark", "__init__.py")):
        print(f"perfbench: no beast_spark package in {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run = Run(args, work)
    _prepare_env(work, run.nproc)
    import ingest
    import querymix

    body = {
        "ingest_backlog": ingest.run_backlog,
        "query_mix": querymix.run_query_mix,
    }[args.workload]
    status = 0
    try:
        try:
            body(run)
        finally:
            run.stop_session()
        result = {
            "correct": run.failed == 0 and not run.reasons,
            "attempted": max(run.attempted, 1),
            "failed": run.failed,
            "metrics": run.metrics(),
        }
    except Exception:  # noqa: BLE001 - report the failed run, then exit non-zero
        traceback.print_exc()
        run.reasons.append("run aborted: " + traceback.format_exc(limit=1).strip().splitlines()[-1])
        result = {"correct": False, "attempted": max(run.attempted, 1),
                  "failed": max(run.attempted, 1), "metrics": {}}
        status = 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps({"workload": args.workload, "seed": args.seed, **run.detail,
                      "check_failures": run.reasons}))
    print(json.dumps(result))
    return status


if __name__ == "__main__":
    sys.exit(main())
