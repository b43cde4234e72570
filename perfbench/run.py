#!/usr/bin/env python3
"""One benchmark run of one workload in a fresh process.

    python3 perfbench/run.py --workload iterative_reuse --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run

1. sets Spark up once, from nothing: the JVM launch in ``get_spark()``,
   the query-registry import and one first-touch query. That is
   ``setup_s``;
2. times a cold pass over the workload's queries in the seed's order,
   then warm passes in the same session until ``--seconds`` have passed
   (at least one). Each query is timed around ``fn(spark, data_dir)``
   plus the ``noop`` sink. ``warm_s`` sums each query's median over the
   warm passes;
3. checks the frames the last pass returned against their DuckDB
   oracles, untimed;
4. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1`` (event log, streaming listener
   and layer spans on), and writes the full record, per query, to
   ``perfbench/.work/results/``.

It exits non-zero on a failed query or an oracle mismatch, and without
a result line when the program or its data is missing.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data", "sf0.01")
MIN_WARM = 1

sys.path.insert(0, BENCH)

from workloads import FIRST_TOUCH, WORKLOADS, query_order  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_inputs() -> None:
    """Fail before any work when the program or its data is missing or
    differs from the recorded digests."""
    missing = [
        p
        for p in ("pmp_analytics_spark/session.py", "pmp_analytics_spark/queries/__init__.py", "tools/check_oracle.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        raise SystemExit(f"perfbench: program files missing under {ROOT}: {missing}")
    with open(os.path.join(DATA, "SHA256SUMS"), encoding="utf-8") as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise SystemExit(f"perfbench: {name} does not match its recorded digest")


def prepare_env() -> dict[str, str]:
    """Keep every file Spark and the program write inside WORK, and give
    Python workers the checkout on their path."""
    tmp = os.path.join(WORK, "tmp")
    logs = os.path.join(WORK, "eventlog")
    for d in (tmp, logs, os.path.join(WORK, "results")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Every JVM the run starts (the launcher and the driver) would write
    # its perf-data file to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = DATA
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, ROOT)
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def trace_conf(app_tag: str) -> dict[str, str]:
    logs = os.path.join(WORK, "eventlog", app_tag)
    os.makedirs(logs, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": logs,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def set_up(conf: dict, tracer) -> tuple:
    """The run's one set-up; returns (spark, queries, its timings)."""
    t0 = time.perf_counter()
    from pmp_analytics_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    if tracer is not None:
        import layers

        layers.install(tracer)
    from pmp_analytics_spark.queries import all_queries

    qs = all_queries()
    t2 = time.perf_counter()
    sink(qs[FIRST_TOUCH](spark, DATA))
    t3 = time.perf_counter()
    return spark, qs, {"get_spark_s": t1 - t0, "registry_import_s": t2 - t1, "first_query_s": t3 - t2, "total_s": t3 - t0}


def collect_garbage(spark) -> None:
    """Full JVM collection before a pass, so no pass pays for the
    garbage of the one before it."""
    spark._jvm.java.lang.System.gc()


def median_total(passes: list[dict]) -> float:
    """Sum over queries of each query's median time across ``passes``."""
    per: dict[str, list[float]] = {}
    for p in passes:
        for q in p["queries"]:
            if "build_s" in q:
                per.setdefault(q["name"], []).append(q["build_s"] + q["sink_s"])
    return sum(statistics.median(v) for v in per.values())


def run_pass(spark, qs, order: list[str], exchanges: bool) -> tuple[dict, dict]:
    """Time each query's build call and its noop sink; returns the pass
    record and the frames the queries returned."""
    out = {"queries": [], "failed": 0}
    frames = {}
    for name in order:
        rec = {"name": name}
        try:
            w0 = time.time() * 1000.0
            t0 = time.perf_counter()
            df = qs[name](spark, DATA)
            t1 = time.perf_counter()
            w1 = time.time() * 1000.0
            frames[name] = df
            sink(df)
            t2 = time.perf_counter()
            w2 = time.time() * 1000.0
            rec.update(build_s=t1 - t0, sink_s=t2 - t1, build_ms=(w0, w1), sink_ms=(w1, w2))
            if exchanges:
                from pmp_analytics_spark.plans.audit import count_exchanges

                rec["exchanges"] = count_exchanges(df)
        except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
            traceback.print_exc()
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            out["failed"] += 1
        out["queries"].append(rec)
    out["s"] = sum(q.get("build_s", 0.0) + q.get("sink_s", 0.0) for q in out["queries"])
    return out, frames


def load_check_oracle():
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(frames: dict, names: list[str]) -> dict[str, str | None]:
    """Compare each query's frame to its DuckDB oracle with the repo
    gate's own comparison functions; maps name -> None (match) or the
    mismatch."""
    co = load_check_oracle()
    from pmp_analytics_spark.queries import all_oracles

    oracles = all_oracles(set(names))
    con = co.duck_conn(DATA)
    verdicts: dict[str, str | None] = {}
    for name in names:
        if name not in frames:
            verdicts[name] = "no frame: the query raised in the last pass"
            continue
        try:
            sdf = frames[name]
            stypes = [f.dataType.simpleString() for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(oracles[name])
            dcols, dtypes_, drows = list(rel.columns), list(rel.types), rel.fetchall()
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            verdicts[name] = f"error: {type(e).__name__}: {e}"[:300]
            continue
        problems = co.dtype_mismatches(sdf.columns, stypes, dcols, dtypes_)
        if co.frame_key(sdf.columns, srows) != co.frame_key(dcols, drows):
            problems.append(f"values differ (spark rows={len(srows)}, oracle rows={len(drows)})")
        verdicts[name] = "; ".join(problems) or None
    con.close()
    return verdicts


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def shut_down(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    check_inputs()
    conf = prepare_env()
    tag = f"{args.workload}_s{args.seed}_t{args.trace}"
    tracer = recorder = None
    if args.trace:
        import layers
        import streamrec

        conf.update(trace_conf(tag))
        tracer = layers.Tracer()

    spark, qs, setup = set_up(conf, tracer)
    if args.trace:
        recorder = streamrec.BatchRecorder()
        spark.streams.addListener(recorder)

    order = query_order(args.workload, args.seed)
    passes = []
    after_cold = None
    t_start = time.perf_counter()
    while len(passes) < 1 + MIN_WARM or time.perf_counter() - t_start < args.seconds:
        collect_garbage(spark)
        record, frames = run_pass(spark, qs, order, exchanges=bool(args.trace) and not passes)
        passes.append(record)
        if args.trace and after_cold is None:
            after_cold = {"memo_entries": layers.memo_entries(), "cache": layers.cache_held(spark)}
    measured_s = time.perf_counter() - t_start

    verdicts = oracle_check(frames, sorted(order))
    peak_rss = jvm_peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    if recorder is not None:
        recorder.settle()
    shut_down(spark)

    failed = sum(p["failed"] for p in passes) + sum(v is not None for v in verdicts.values())
    attempted = sum(len(p["queries"]) for p in passes) + len(verdicts)
    end_to_end = {
        "setup_s": setup["total_s"],
        "cold_s": passes[0]["s"],
        "warm_s": median_total(passes[1:]),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "order": order,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "measured_s": measured_s,
        "peak_rss_mb": peak_rss,
        "setup": setup,
        "passes": passes,
        "oracle": verdicts,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": end_to_end,
    }
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    if args.trace:
        import trace_report

        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        logs = glob.glob(os.path.join(WORK, "eventlog", tag, f"{app_id}*"))
        values, per_query = trace_report.build(
            logs[0], list(units), passes=passes, setup=setup, tracer=tracer,
            batches=recorder.batches(), after_cold=after_cold, cores=record["cores"], peak_rss_mb=peak_rss,
        )
        record.update(per_layer=values, per_query=per_query)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = end_to_end
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
