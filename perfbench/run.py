"""Closed-loop benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload {dedup,etl} --seed N --seconds S --trace {0,1}

One process, one client thread, one operation in flight, on `local[4]`.
Set-up (input preparation, `session.get_spark`, warm-up) is timed as
`setup_s`; then whole passes over the workload run until `--seconds` have
elapsed. Every operation runs under its own Spark job group and every
output is checked (the pinned DuckDB oracle signature for `dedup`, the
generator's own predictions for `etl`).

`--trace 0` reports the end-to-end metrics. `--trace 1` is a separate run
that records spans around every call into a layer, turns on Spark's event
log, and reports the per-layer metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Run artifacts
(environment record, per-operation records, spans) go to perfbench/.out/.
The tracing overhead is measured by `overhead.py`, which pairs the two
kinds of run. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
PACKAGE = "nyc_bikeshare_datawarehouse_spark"
CORES = 4

sys.path.insert(0, HERE)

from harness import EnvRecord, JobCounter, Tracer, geomean, jvm_peak_rss_mb, median, stop_engine  # noqa: E402
import eventlog  # noqa: E402
from workloads import DEDUP_QUERIES, ETL_TABLES, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

SPARK_COUNTERS = ["jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms",
                  "duty", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "task_skew"]
QUERY_SPARK_COUNTERS = ["stages", "tasks", "run_ms", "cpu_ms", "shuffle_write_bytes",
                        "spill_bytes", "task_skew", "busy_cores"]
#: counters that are ratios, not per-pass totals
RATIOS = ("duty", "task_skew")


def _unit(counter: str) -> str:
    if counter.endswith("_ms"):
        return "ms"
    if counter.endswith("_bytes"):
        return "bytes"
    if counter == "busy_cores":
        return "cores"
    return "ratio" if counter in RATIOS else "count"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, the same set on every workload (0 where a
    workload does not touch the layer)."""
    units = {
        "session.get_spark_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "sources.prepare_s": "s",
        "sources.read_csv_s": "s",
        "sources.write_parquet_s": "s",
        **{f"sources.write_parquet.{t}_s": "s" for t in ETL_TABLES},
        "sources.bytes_written": "bytes",
        "etl.storage_ratio": "ratio",
        "etl.jobs": "count",
        "warehouse.build_all_s": "s",
        "warehouse.quality_s": "s",
        "warehouse.mart_read_s": "s",
        "plans.build_s": "s",
        "plans.exec_s": "s",
        "error_rate": "ratio",
        "query_p50_s": "s",
        "query_geomean_s": "s",
        "trace.pass_s": "s",
        "trace.spans": "count",
    }
    units.update({f"spark.{c}": _unit(c) for c in SPARK_COUNTERS + ["busy_cores"]})
    for q in DEDUP_QUERIES:
        units.update({f"{q}.p50_s": "s", f"{q}.build_s": "s", f"{q}.jobs": "count"})
        units.update({f"{q}.{c}": _unit(c) for c in QUERY_SPARK_COUNTERS})
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_conf(scratch: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        # temp files in the checkout; no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(scratch, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(scratch, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def install_etl_spans(tracer: Tracer) -> None:
    """Spans at the warehouse's layer boundaries, by wrapping the names
    `pipeline.run` looks up at call time."""
    from nyc_bikeshare_datawarehouse_spark.warehouse import pipeline, quality

    tracer.wrap(pipeline, "read_csv", "sources.read_csv")
    tracer.wrap(pipeline, "write_parquet", "sources.write_parquet",
                label=lambda a: os.path.basename(a[1].rstrip("/")))
    tracer.wrap(pipeline, "build_all", "warehouse.build_all")
    tracer.wrap(pipeline, "run_quality_gates", "warehouse.quality")
    for gate in ("expect_non_empty", "expect_no_null_pk", "expect_unique_pk", "expect_fk_integrity"):
        tracer.wrap(quality, gate, f"warehouse.quality.{gate[len('expect_'):]}")


def measure(args, scratch: str) -> tuple[dict, dict]:
    trace = bool(args.trace)
    tracer = Tracer(enabled=trace)
    wl = WORKLOADS[args.workload](args.seed, scratch, tracer)

    with tracer.span("sources.prepare"):
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
    from nyc_bikeshare_datawarehouse_spark.session import get_spark

    with tracer.span("session.get_spark"):
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{CORES}]",
                          extra_conf=engine_conf(scratch, trace))
        get_spark_s = time.perf_counter() - t
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    jvm_pid = jvm.pid if jvm is not None else None
    counter = JobCounter(spark.sparkContext)
    try:
        with tracer.span("session.warm_up"), counter.group("warm_up"):
            wl.warm_up(spark)
        if trace and args.workload == "etl":
            install_etl_spans(tracer)
        setup_s = time.perf_counter() - T_PROCESS

        records, passes = [], []
        t_measure = time.perf_counter()
        while not passes or time.perf_counter() - t_measure < args.seconds:
            p = len(passes)
            pass_s = 0.0
            for i, op in enumerate(wl.ops(spark, p)):
                gid = f"{args.workload}:{p}:{i}:{op.name}"
                with tracer.operation(gid), tracer.span(f"op.{op.name}"), counter.group(gid):
                    t = time.perf_counter()
                    try:
                        out, error = op.run(), None
                    except Exception as e:  # an operation that fails is counted, not fatal
                        out, error = None, f"{op.name}: {type(e).__name__}: {str(e)[:300]}"
                    latency = time.perf_counter() - t
                pass_s += latency
                if error is None:
                    error = op.check(out)
                rec = {"op": op.name, "pass": p, "group": gid, "latency_s": latency, "error": error}
                if trace:
                    rec.update(counter.counts(gid))
                records.append(rec)
            passes.append(pass_s)
        final_failures = wl.final_checks(spark)
        layer = wl.layer_metrics()
        rss = jvm_peak_rss_mb(jvm_pid)
    finally:
        stop_engine(spark)

    # the workload's final check (if it has one) counts as one operation
    failed_ops = [r for r in records if r["error"]]
    attempted = len(records) + (final_failures is not None)
    failures = [r["error"] for r in failed_ops] + (final_failures or [])
    failed = len(failed_ops) + bool(final_failures)

    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r["latency_s"])
    e2e = {"setup_s": setup_s, "pass_s": median(passes)}
    op_stats = {
        "query_p50_s": median([r["latency_s"] for r in records]),
        "query_geomean_s": geomean([median(v) for v in by_op.values()]),
    }
    result = {
        "workload": args.workload, "seed": args.seed, "trace": trace,
        "attempted": attempted, "failed": failed, "failures": failures,
        "passes_s": passes, "records": records, "end_to_end": e2e, "operations": op_stats,
        "setup": {"prepare_s": prepare_s, "get_spark_s": get_spark_s, "setup_s": setup_s},
    }
    if not trace:
        return result, {}

    per = dict.fromkeys(per_layer_units(), 0.0)
    n = len(passes)
    per.update({
        "session.get_spark_s": get_spark_s,
        "session.jvm_peak_rss_mb": rss,
        "sources.prepare_s": prepare_s,
        "error_rate": failed / attempted,
        "trace.pass_s": median(passes),
        "trace.spans": len(tracer.spans),
        **op_stats,
        **layer,
    })
    span_totals = {
        "sources.read_csv_s": "sources.read_csv",
        "sources.write_parquet_s": "sources.write_parquet",
        "warehouse.build_all_s": "warehouse.build_all",
        "warehouse.quality_s": "warehouse.quality",
        "warehouse.mart_read_s": "op.readme.",
        "plans.build_s": "plans.build",
        "plans.exec_s": "plans.exec",
        **{f"sources.write_parquet.{t}_s": f"sources.write_parquet.{t}" for t in ETL_TABLES},
    }
    for metric, prefix in span_totals.items():
        per[metric] = tracer.totals(prefix) / n
    jobs_of = lambda op: [r["jobs"] for r in records if r["op"] == op]  # noqa: E731
    if args.workload == "etl":
        per["etl.jobs"] = median(jobs_of("pipeline.run"))
    for q in DEDUP_QUERIES:
        if q in by_op:
            per[f"{q}.p50_s"] = median(by_op[q])
            per[f"{q}.jobs"] = median(jobs_of(q))
            builds = [sp.end - sp.start for sp in tracer.spans
                      if sp.name == "plans.build" and sp.op and sp.op.endswith(f":{q}")]
            per[f"{q}.build_s"] = median(builds)

    groups = eventlog.parse(os.path.join(scratch, "eventlog"))
    measured = [g for k, g in groups.items() if k.startswith(f"{args.workload}:")]
    for c, v in eventlog.merge(measured).metrics().items():
        per[f"spark.{c}"] = v if c in RATIOS else v / n
    # busy cores: task time over wall time, ~1 when one task runs at a
    # time (job-bound), up to CORES when every core is busy
    per["spark.busy_cores"] = per["spark.run_ms"] / (1000 * median(passes))
    for q in DEDUP_QUERIES:
        parts = [g for k, g in groups.items() if k.startswith(f"{args.workload}:") and k.endswith(f":{q}")]
        if parts:
            m = eventlog.merge(parts).metrics()
            m["busy_cores"] = m["run_ms"] / (1000 * sum(by_op[q]))
            for c in QUERY_SPARK_COUNTERS:
                per[f"{q}.{c}"] = m[c] if c in RATIOS + ("busy_cores",) else m[c] / len(parts)

    result["spans"] = tracer.dump(T_PROCESS)
    result["self_time_s"] = tracer.self_times()
    result["spark_groups"] = {k: g.metrics() for k, g in groups.items()}
    return result, per


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = EnvRecord()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE}/ is not beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the engine's own knobs keep their defaults; SPARK_LOCAL_DIRS would
    # move shuffle files out of the checkout
    for var in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_TZ", "SPARK_GRAFT_CPUS",
                "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        os.environ.pop(var, None)
    scratch = os.path.join(OUT, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    # Spark, its Python workers and the engine's own temp files stay in
    # the checkout
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    tempfile.tempdir = None
    try:
        result, per = measure(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    result["env"] = env.finish()

    if args.trace:
        metrics, units = per, per_layer_units()
    else:
        metrics, units = result["end_to_end"], END_TO_END
    with open(os.path.join(OUT, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)

    print(f"env {json.dumps(result['env'])}")
    for name in units:
        print(f"metric {name} {metrics[name]:.6g} {units[name]}")
    for msg in result["failures"]:
        print(f"FAILED {msg}")
    print(f"correct {not result['failed']} attempted {result['attempted']} failed {result['failed']}")
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
