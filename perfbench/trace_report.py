"""Per-layer metrics of a traced run, per workload and per query.

Counts come from the cold pass, the one pass every run makes exactly
once; batch-latency percentiles use the batches of every timed pass.
Each query's window is its build call plus its noop sink.
"""

from __future__ import annotations

from collections import defaultdict

import eventlog
import stats
from layers import OPERATOR_MODULES

STREAM_PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
}


def _spark_metrics(c: dict, wall_s: float, cores: int) -> dict:
    run_s = c["executor_run_ms"] / 1000.0
    return {
        "spark.jobs": c["jobs"],
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.stages_skipped": c["stages_skipped"],
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": c["executor_cpu_ns"] / 1e9,
        "spark.gc_s": c["gc_ms"] / 1000.0,
        "spark.task_busy_frac": run_s / (wall_s * cores) if wall_s else 0.0,
        "shuffle.write_mb": c["shuffle_write_bytes"] / eventlog.MB,
        "shuffle.read_mb": c["shuffle_read_bytes"] / eventlog.MB,
        "shuffle.spill_mb": c["spill_bytes"] / eventlog.MB,
        "sources.input_mb": c["input_bytes"] / eventlog.MB,
        "sources.scan_count": c["scan_nodes"],
        "functions.python_nodes": c["python_nodes"],
    }


def _stream_metrics(batches: list[dict]) -> dict:
    trig = sum(b["triggerExecution"] for b in batches)
    # State size is a level, not a flow: take each stream's largest.
    rows: dict[str, int] = defaultdict(int)
    state_bytes: dict[str, int] = defaultdict(int)
    for b in batches:
        rows[b["id"]] = max(rows[b["id"]], b["state_rows"])
        state_bytes[b["id"]] = max(state_bytes[b["id"]], b["state_bytes"])
    return {
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        **{k: sum(b[p] for b in batches) for k, p in STREAM_PHASES.items()},
        "streaming.state_rows": sum(rows.values()),
        "streaming.state_mb": sum(state_bytes.values()) / eventlog.MB,
        "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
        "streaming.add_batch_frac": (
            sum(b["addBatch"] for b in batches) / trig if trig else 0.0
        ),
    }


def _span_metrics(tracer, windows: list[tuple[float, float]], folded: dict) -> dict:
    def spans(layer):
        return [sp for s, e in windows for sp in tracer.spans_of(layer, s, e)]

    out = {}
    for m in OPERATOR_MODULES:
        sp = spans(f"operators.{m}")
        out[f"operators.{m}.calls"] = len(sp)
        out[f"operators.{m}.s"] = sum(e - s for s, e in sp) / 1000.0
        out[f"operators.{m}.jobs"] = eventlog.count_jobs_in(folded, sp)
    pub = spans("sinks.publish")
    out["sinks.publish_calls"] = len(pub)
    out["sinks.publish_s"] = sum(e - s for s, e in pub) / 1000.0
    out["sources.load_table_calls"] = len(spans("sources.load_table"))
    return out


def _in_window(batches: list[dict], start: float, end: float) -> list[dict]:
    return [b for b in batches if start <= b["ts_ms"] <= end]


def build(log_path: str, names: list[str], *, passes, setup, tracer, batches, after_cold, cores, peak_rss_mb):
    """The run's metrics ``names`` and the per-query split, from the
    event log at ``log_path`` and what the run recorded."""
    folded = eventlog.fold(eventlog.read_events(log_path))
    cold = [q for q in passes[0]["queries"] if "build_ms" in q]
    windows = []
    for q in cold:
        windows.append((f"{q['name']}|build", *q["build_ms"]))
        windows.append((f"{q['name']}|sink", *q["sink_ms"]))
    # Jobs between the queries' windows (still inside the cold pass).
    windows.append(("gap", cold[0]["build_ms"][0], cold[-1]["sink_ms"][1]))
    by_key = eventlog.attribute(folded, windows)
    zero = dict.fromkeys(eventlog.COUNTERS, 0)

    def counters(keys):
        acc = dict(zero)
        for k in keys:
            for name, v in by_key.get(k, zero).items():
                acc[name] += v
        return acc

    per_query = {}
    for q in cold:
        n = q["name"]
        wall = q["build_s"] + q["sink_s"]
        qwin = (q["build_ms"][0], q["sink_ms"][1])
        per_query[n] = {
            "queries.build_s": q["build_s"],
            "queries.build_jobs": by_key.get(f"{n}|build", zero)["jobs"],
            "exec.sink_s": q["sink_s"],
            "exec.sink_jobs": by_key.get(f"{n}|sink", zero)["jobs"],
            **_spark_metrics(counters([f"{n}|build", f"{n}|sink"]), wall, cores),
            "plans.exchanges": q.get("exchanges", 0),
            **_span_metrics(tracer, [qwin], folded),
            **_stream_metrics(_in_window(batches, *qwin)),
        }

    total = {k: sum(pq[k] for pq in per_query.values()) for k in next(iter(per_query.values()), {})}
    cold_wall = sum(q["build_s"] + q["sink_s"] for q in cold)
    keys = [k for k in by_key if k not in (None, "gap")]
    total.update(_spark_metrics(counters(keys), cold_wall, cores))
    total.update(_stream_metrics([b for q in cold for b in _in_window(batches, q["build_ms"][0], q["sink_ms"][1])]))

    timed = []
    for p in passes:
        for q in p["queries"]:
            if "build_ms" in q:
                timed.extend(_in_window(batches, q["build_ms"][0], q["sink_ms"][1]))
    lat = [b["triggerExecution"] for b in timed]
    tail = stats.tail(lat) if lat else None
    total.update({
        "streaming.batch_p50_ms": stats.percentile(lat, 50) if lat else 0.0,
        "streaming.batch_tail_ms": tail[1] if tail else 0.0,
        "streaming.batch_tail_pct": tail[0] if tail else 0.0,
        "streaming.batch_samples": len(lat),
        "session.get_spark_s": setup["get_spark_s"],
        "session.first_query_s": setup["first_query_s"],
        "session.registry_import_s": setup["registry_import_s"],
        "trace.cold_s": cold_wall,
        "spark.unattributed_jobs": by_key.get("gap", zero)["jobs"],
        "memo.entries": after_cold["memo_entries"],
        "cache.held_mb": after_cold["cache"][0],
        "cache.held_rdds": after_cold["cache"][1],
        "memory.peak_rss_mb": peak_rss_mb,
    })
    return {k: total[k] for k in names}, per_query
