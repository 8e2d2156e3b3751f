"""ingest_backlog: catch-up after downtime. Kafka-shaped parquet files read
by a Structured Streaming file source → ``ProtoIngest.apply`` →
``WarehouseSink`` (via ``foreach_batch_writer``) → ``BatchLedger`` commit
(via ``idempotent``). Every file is present before the stream starts, all
messages valid, drained with ``availableNow`` and ``2 × nproc`` files per
trigger, so per-batch fixed cost is amortised and decode and the table
write dominate.
"""

from __future__ import annotations

import glob
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import gen
from tracing import EventLog, Spans, median, percentile, stage_work

# Each trigger takes 2 × nproc files of 8000 messages, which replay one
# sf0.1-sized events table (100k rows). The drain has one trigger per
# SECONDS_PER_TRIGGER of --seconds: a trigger takes ~3.5 s at HEAD on 4
# cores, so a 15-s run drains 3 triggers in ~11 s.
ROWS_PER_FILE = 8000
BASE_EVENTS = 100_000
SECONDS_PER_TRIGGER = 5.0
# Before it, a separate stream drains two triggers of the same shape, so
# the JIT has settled (batches still get ~25% faster over the first three).
WARMUP_TRIGGERS = 2
DRAIN_TIMEOUT_S = 60.0


def event_schema():
    from beast_spark.plans.protowire import PField

    return (
        PField(1, "event_id", "int64"),
        PField(2, "ts", "timestamp"),
        PField(3, "user_id", "int64"),
        PField(4, "event_type", "string"),
        PField(5, "value", "double"),
        PField(6, "props", "string"),
    )


class Pipeline:
    """One ingest stream and its sink, ledger and checkpoint, with spans
    around the program's entry points."""

    def __init__(self, spark, root: str, spans: Spans) -> None:
        """``root`` holds the stream's warehouse table, DLQ, checkpoint and
        ledger; its base name labels the stream's spans."""
        from beast_spark.config import IngestSettings, OOBSettings, RetrySettings
        from beast_spark.streaming.evolution import BatchLedger, idempotent
        from beast_spark.streaming.ingest import ProtoIngest
        from beast_spark.streaming.sink import WarehouseSink

        self.spark = spark
        self.table = os.path.join(root, "warehouse")
        self.dlq = os.path.join(root, "dlq")
        self.ckpt = os.path.join(root, "checkpoint")
        self.ledger_dir = os.path.join(root, "ledger")
        self.commits: dict[int, float] = {}  # batch id -> perf_counter at ledger commit
        self.batch = -1
        self.label = os.path.basename(root)
        self.query_id = ""
        # Every setting spelled out, so no environment variable changes them.
        self.ingest = ProtoIngest(
            event_schema(),
            settings=IngestSettings(
                fail_on_null_message=False,
                fail_on_deserialize_error=False,
                fail_on_unknown_fields=True,
                metadata_namespace=None,
                force_python_decode=False,
            ),
        )
        self.sink = WarehouseSink(
            table_path=self.table,
            dlq_path=self.dlq,
            partition_col="ts",
            retry=RetrySettings(
                max_push_attempts=5, backoff_initial_ms=10, backoff_rate=2, backoff_max_ms=60000
            ),
            oob=OOBSettings(past_days=1825, future_days=366),
        )
        self.ledger = BatchLedger(self.ledger_dir)
        batch = lambda: {"stream": self.label, "batch": self.batch}  # noqa: E731
        # Instance attributes shadow the methods, so foreach_batch_writer
        # and idempotent call through the spans.
        self.sink.push = spans.wrap("sink.push", self.sink.push, batch)
        commit = spans.wrap("ledger.commit", self.ledger.commit, batch)

        def timed_commit(batch_id: int, meta: dict | None = None) -> None:
            commit(batch_id, meta)
            self.commits[batch_id] = time.perf_counter()

        self.ledger.commit = timed_commit
        guarded = idempotent(
            self.ledger,
            self.sink.foreach_batch_writer(spans.wrap("ingest.apply", self.ingest.apply, batch)),
        )

        def write(batch_df, batch_id: int) -> None:
            self.batch = batch_id
            guarded(batch_df, batch_id)

        self.write = write

    def drain(self, src_dir: str, max_files: int):
        """Start the stream over every file in src_dir, ``availableNow``."""
        from pyspark.sql.pandas.types import from_arrow_schema

        query = (
            self.spark.readStream.schema(from_arrow_schema(gen.KAFKA_SCHEMA))
            .format("parquet")
            .option("maxFilesPerTrigger", max_files)
            .load(src_dir)
            .writeStream.foreachBatch(self.write)
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        self.query_id = str(query.id)
        return query

    def file_batches(self) -> dict[str, int]:
        """File name -> batch id, from the file source's checkpoint log."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if os.path.basename(path).startswith("."):
                continue
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        rec = json.loads(line)
                        out[os.path.basename(rec["path"])] = rec["batchId"]
        return out

    def committed_batches(self) -> list[int]:
        return sorted(
            int(os.path.basename(p)) for p in glob.glob(os.path.join(self.ckpt, "commits", "*"))
            if os.path.basename(p).isdigit()
        )


# -- correctness -------------------------------------------------------------

def _read_warehouse(path: str, columns: list[str]) -> pa.Table:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns + ["insert_id"]
    )
    for name in ("ts", "message_timestamp"):
        i = t.schema.get_field_index(name)
        t = t.set_column(i, name, pc.cast(t[name], pa.timestamp("us")))
    return t


def _dlq_keys(path: str) -> list[tuple[int, int]]:
    """(partition, offset) of every DLQ row: DESERIALIZE and null-message
    rows carry them, out-of-bounds rows carry the insert id."""
    keys = []
    for f in glob.glob(os.path.join(path, "**", "*.json"), recursive=True):
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                r = json.loads(line)
                if "insert_id" in r:
                    _, p, o = r["insert_id"].rsplit("_", 2)
                    keys.append((int(p), int(o)))
                else:
                    keys.append((int(r["partition"]), int(r["offset"])))
    return keys


def check_outputs(pipe: Pipeline, kf: gen.KafkaFiles) -> tuple[set[int], list[str]]:
    """Compare warehouse, DLQ and ledger with what the generator wrote:
    every message exactly once in the warehouse with its content, no
    insert_id repeated, nothing in the DLQ (all messages are valid), one
    ledger marker per engine batch. Returns the indexes of files with any
    wrong output, and the reasons."""
    bad: set[tuple[int, int]] = set()
    reasons: list[str] = []
    exp = kf.expected
    cols = exp.column_names
    exp_keys = list(zip(exp["message_partition"].to_pylist(), exp["message_offset"].to_pylist()))
    if not os.path.isdir(pipe.table):
        bad.update(exp_keys)
        reasons.append("warehouse table missing")
    else:
        act = _read_warehouse(pipe.table, cols)
        if pc.count_distinct(act["insert_id"]).as_py() != act.num_rows:
            reasons.append("insert_id repeats")
        act = act.select(cols).sort_by(
            [("message_partition", "ascending"), ("message_offset", "ascending")]
        )
        act_keys = list(zip(act["message_partition"].to_pylist(), act["message_offset"].to_pylist()))
        if act_keys == exp_keys:
            for c in cols:
                same = pc.fill_null(pc.equal(act[c], exp[c]), False)
                both_null = pc.and_(pc.is_null(act[c]), pc.is_null(exp[c]))
                wrong = pc.invert(pc.or_(same, both_null)).to_numpy(zero_copy_only=False)
                if wrong.any():
                    reasons.append(f"warehouse column {c} differs on {int(wrong.sum())} rows")
                    bad.update(act_keys[i] for i in np.flatnonzero(wrong))
        else:
            seen: set = set()
            dup = {k for k in act_keys if k in seen or seen.add(k)}
            diff = set(act_keys) ^ set(exp_keys)
            reasons.append(f"warehouse keys differ: {len(diff)} missing/extra, {len(dup)} repeated")
            bad.update(diff | dup)
    if os.path.isdir(pipe.dlq):
        dlq = _dlq_keys(pipe.dlq)
        if dlq:
            reasons.append(f"{len(dlq)} valid messages in the DLQ")
            bad.update(dlq)
    markers = sorted(
        int(os.path.basename(p)[len("batch-"):-len(".committed")])
        for p in glob.glob(os.path.join(pipe.ledger_dir, "batch-*.committed"))
    )
    batches = pipe.committed_batches()
    if markers != list(range(len(markers))) or markers != batches:
        reasons.append(f"ledger markers {markers} vs engine commits {batches}")
    per_file = kf.rows_per_file
    # file f holds partition f % 8, offsets [f // 8 * rows, (f // 8 + 1) * rows)
    files = {o // per_file * gen.PARTITIONS + p for p, o in bad}
    if reasons and not files:
        files = set(range(len(kf.paths)))  # a ledger fault spoils every file
    return files, reasons


# -- per-layer numbers from a traced run ---------------------------------------

def batch_layers(
    pipe: Pipeline, spans: Spans, log: EventLog, progress: list[dict], batches: set[int],
    rows_in: dict[int, int], files_in: dict[int, int],
) -> dict[str, float]:
    """Per-batch medians over the measured batches."""
    prog = [p for p in progress if p["batchId"] in batches]
    dur = lambda key: median(p["durationMs"].get(key, 0) for p in prog)  # noqa: E731
    mine = lambda name: [  # noqa: E731
        s for s in spans.named(name) if s["stream"] == pipe.label and s["batch"] in batches
    ]
    in_batches = lambda name: [(s["end"] - s["start"]) * 1000.0 for s in mine(name)]  # noqa: E731
    out = {
        "engine.trigger_ms": dur("triggerExecution"),
        "engine.latest_offset_ms": dur("latestOffset"),
        "engine.query_planning_ms": dur("queryPlanning"),
        "engine.add_batch_ms": dur("addBatch"),
        "engine.wal_commit_ms": dur("walCommit"),
        "engine.commit_offsets_ms": dur("commitOffsets"),
        "engine.rows_per_batch": median(rows_in[b] for b in batches),
        "engine.batches": float(len(batches)),
        "ingest.apply_ms": median(in_batches("ingest.apply")),
        "sink.push_ms": median(in_batches("sink.push")),
        "sink.write_attempts": median(s["result"] for s in mine("sink.push")),
        "sink.files_per_batch": median(files_in[b] for b in batches),
        "ledger.commit_ms": median(in_batches("ledger.commit")),
    }
    jobs, passes, per_krow, tasks, dlq_rows = [], [], [], [], []
    for b in sorted(batches):
        ids = [
            j for j in log.jobs_where("streaming.sql.batchId", str(b))
            if log.jobs[j]["props"].get("sql.streaming.queryId") == pipe.query_id
        ]
        stages = log.completed_stages(ids)
        decode = [st for st in stages if "MapInArrow" in st["scopes"]]
        jobs.append(len(ids))
        passes.append(len(decode))
        per_krow.append(stage_work(decode)["exec_ms"] / max(rows_in[b], 1) * 1000.0)
        tasks.append(median(st["n_tasks"] for st in stages))
        dlq_rows.append(
            sum(
                t["records_out"]
                for j in ids
                if ", JSON, [" in log.plan_of(j)
                for st in log.completed_stages([j])
                for t in st["tasks"]
            )
        )
    out.update(
        {
            "sink.jobs_per_batch": median(jobs),
            "ingest.decode_passes_per_batch": median(passes),
            "ingest.decode_task_ms_per_krow": median(per_krow),
            "sink.tasks_per_stage": median(tasks),
            "sink.dlq_rows": median(dlq_rows),
        }
    )
    return out


# -- workloads -----------------------------------------------------------------

def run_backlog(ctx) -> None:
    """Catch-up after downtime. Throughput: valid rows committed over the
    drain's wall time, from the stream's start to its end. Latency: each
    file's time from the stream's start to the ledger commit of its batch."""
    files_per_trigger = 2 * ctx.nproc
    n_files = files_per_trigger * max(2, round(ctx.seconds / SECONDS_PER_TRIGGER))
    warm_src = os.path.join(ctx.work, "warm-source")
    src = os.path.join(ctx.work, "source")
    gen.write_kafka_files(warm_src, ctx.seed + 1, files_per_trigger * WARMUP_TRIGGERS, ROWS_PER_FILE)
    kf = gen.write_kafka_files(src, ctx.seed, n_files, ROWS_PER_FILE, BASE_EVENTS)
    ctx.detail["input_checksum"] = kf.checksum

    spark = ctx.start_session()
    t_setup = time.perf_counter()
    warm = Pipeline(spark, os.path.join(ctx.work, "warm"), ctx.spans)
    q = warm.drain(warm_src, files_per_trigger)
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError("warm-up drain did not finish")
    ctx.warmup_s = time.perf_counter() - t_setup
    pipe = Pipeline(spark, os.path.join(ctx.work, "stream"), ctx.spans)
    ctx.setup_s += time.perf_counter() - t_setup

    t0 = time.perf_counter()
    query = pipe.drain(src, files_per_trigger)
    finished = query.awaitTermination(DRAIN_TIMEOUT_S)
    drain_s = time.perf_counter() - t0
    progress = list(query.recentProgress)
    if not finished:
        query.stop()
        raise TimeoutError("backlog drain did not finish")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))

    fb = pipe.file_batches()
    names = [os.path.basename(p) for p in kf.paths]
    latency = [(pipe.commits[fb[n]] - t0) * 1000.0 for n in names if fb.get(n) in pipe.commits]
    rows = kf.expected.num_rows
    ctx.e2e(throughput=rows / drain_s, latency_p50=percentile(latency, 0.5))
    ctx.detail.update(
        files=n_files, rows=rows, drain_s=round(drain_s, 3), batches=len(pipe.commits),
        batch_ms=[round(p["durationMs"]["triggerExecution"]) for p in progress],
        file_latency_p90_ms=round(percentile(latency, 0.9), 1),
    )
    bad_files, reasons = check_outputs(pipe, kf)
    ctx.set_outcome(attempted=n_files, failed=len(bad_files), reasons=reasons)
    rows_in: dict[int, int] = {}
    for n in names:
        rows_in[fb[n]] = rows_in.get(fb[n], 0) + ROWS_PER_FILE
    files_in = {b: r // ROWS_PER_FILE for b, r in rows_in.items()}
    ctx.layer_fn = lambda log: batch_layers(  # noqa: E731
        pipe, ctx.spans, log, progress, set(pipe.commits), rows_in, files_in
    )
