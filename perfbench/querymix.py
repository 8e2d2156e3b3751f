"""query_mix: registered batch queries in a closed loop with one client.

The client runs whole rounds over QUERIES in an order fixed by the seed,
each query built with its registered function and executed with the noop
sink (as ``bench.py`` does), the next one starting when the last returns.
An untimed warm-up round comes first; it collects every result and checks
it against its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import sys
import time

import gen
from tracing import EventLog, median, percentile, stage_work

# Every query module, plus the roadmap-watched q41, q165 and q220; the rest
# are cheap queries with small results. A round takes ~9 s on 4 cores.
# Left out for time: q53 (~6 s; its decode path is what ingest_backlog
# measures) and q164, q173, q174 and q183 (4-7 s each).
QUERIES = {
    "relational": ("q06_forecast_revenue",),
    "advanced": ("q41_exact_percentiles", "q165_unkeyed_range_join", "q42_pivot_segments"),
    "events": ("q27_events_user_funnel",),
    "analytic": ("q65_sort_limit_offset", "q71_collect_aggregates"),
    "curation": ("q220_semantic_dedup",),
    "datapipe": ("q39_embedding_label_centroids", "q96_histogram"),
}
ROUND_S = 7.5  # measured rounds: one per ROUND_S of --seconds, at least one
TABLE_SEED = 20260101  # the tables are the same for every run; the seed orders the queries


def _oracle_compare():
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                    "tools"))
    from oracle_sweep import TABLES, compare

    return TABLES.split(), compare


def run_query_mix(ctx) -> None:
    import duckdb

    from beast_spark.queries import all_queries

    data = os.path.join(ctx.work, "tables")
    gen.write_tables(data, TABLE_SEED)
    specs = all_queries()
    module_of = {q: m for m, qs in QUERIES.items() for q in qs}
    order = sorted(module_of)
    random.Random(ctx.seed).shuffle(order)
    ctx.detail["order"] = [q.split("_", 1)[0] for q in order]

    spark = ctx.start_session({"spark.sql.files.maxPartitionBytes": "1MB"})

    def execute(name: str, collect: bool):
        spark.catalog.clearCache()
        t = time.perf_counter()
        df = specs[name].fn(spark, data)
        if collect:
            out = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
            out = None
        return time.perf_counter() - t, out

    tables, compare = _oracle_compare()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    wrong: dict[str, str] = {}
    warm_s = 0.0
    for name in order:
        try:
            secs, got = execute(name, collect=True)
            warm_s += secs
            err = compare(got, con.execute(specs[name].oracle).df())
        except Exception as exc:  # noqa: BLE001 - a failing query is a failed operation
            err = f"{type(exc).__name__}: {str(exc)[:200]}"
        if err:
            wrong[name] = err
    con.close()
    ctx.setup_s += warm_s
    ctx.warmup_s = warm_s

    latencies: dict[str, list[float]] = {q: [] for q in order}
    windows: list[tuple[str, float, float, float]] = []  # query, start, end, seconds
    rounds = max(1, round(ctx.seconds / ROUND_S))
    for _ in range(rounds):
        for name in order:
            if name in wrong:
                continue
            start = time.time()
            try:
                secs, _ = execute(name, collect=False)
            except Exception as exc:  # noqa: BLE001
                wrong[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
                continue
            latencies[name].append(secs)
            windows.append((name, start, time.time(), secs))
    samples = [s for v in latencies.values() for s in v]
    ctx.e2e(
        throughput=len(samples) / sum(samples) if samples else 0.0,
        latency_p50=percentile(samples, 0.5) * 1000.0 if samples else 0.0,
    )
    ctx.detail.update(
        rounds=rounds,
        samples=len(samples),
        query_p90_ms=round(percentile(samples, 0.9) * 1000.0, 1) if samples else None,
        query_ms={q.split("_", 1)[0]: round(median(v) * 1000.0, 1) for q, v in latencies.items()},
    )
    ctx.set_outcome(
        attempted=rounds * len(order),
        failed=rounds * len(wrong),
        reasons=[f"{q}: {e}" for q, e in sorted(wrong.items())],
    )
    ctx.layer_fn = lambda log: query_layers(log, windows, module_of, ctx.nproc)  # noqa: E731


def query_layers(log: EventLog, windows, module_of: dict[str, str], nproc: int) -> dict:
    """Per query module, medians over the module's measured executions."""
    per: dict[str, list[dict]] = {}
    for name, start, end, secs in windows:
        ids = log.jobs_between(start, end)
        stages = log.completed_stages(ids)
        work = stage_work(stages)
        per.setdefault(module_of[name], []).append(
            {
                "jobs": len(ids),
                "stages": len(stages),
                "exec_ms": work["exec_ms"],
                "parallelism": work["exec_ms"] / (secs * 1000.0 * nproc),
                "shuffle_bytes": work["shuffle_bytes"],
                "spill_bytes": work["spill_bytes"],
                "task_skew": work["task_skew"],
            }
        )
    return {
        f"query.{m}.{k}": median(r[k] for r in rows)
        for m, rows in per.items()
        for k in rows[0]
    }
