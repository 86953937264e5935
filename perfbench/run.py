"""Benchmark of the star-schema ETL engine and its operator library.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads and metric names come from
``BENCHMARK.json``; ``perfbench/workloads.py`` says what each workload
does. One run starts one local Spark session (``local[N]``, N =
``SPARK_GRAFT_CPUS``, default 2; driver heap ``SPARK_GRAFT_DRIVER_MEM``,
default 2g), generates its inputs from the seed, sets the workload up
``SETUP_REPEATS`` times, runs the workload's untimed warm-up passes, then
runs timed passes until ``--seconds`` have elapsed and the workload's
minimum number of passes is done. The passes are sized so that the
minimum, not the clock, ends a run, so every run does the same work.

``setup_s`` is the time from process start until the inputs exist
(imports, JVM start, input generation) plus the median of the repeated
set-ups. ``pass_cpu_s`` is the median CPU time of a timed pass: user and
system time of this process and every process below it (the JVM, Spark's
Python workers), less the JVM's JIT compiler threads. Other load on the
host moves it far less than wall time, which the record keeps as
``pass_s``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from spans recorded around the calls into each layer. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A fuller record (quartiles, sample counts,
the workload's own figures, provenance) goes to standard error and to
``.perfbench_out/``; a traced run also writes its spans there.

Exit status 2: the checkout lacks the program.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

REQUIRED = (
    "BENCHMARK.json",
    "__spark_entry__.py",
    "local_etl_csv_to_postgresql_spark/pipeline.py",
    "queries/analytics.sql",
    "scripts/check_oracle.py",
)
OUT_DIR = ".perfbench_out"
# local[2] on the 4-core reference host: local[4] shares the cores with
# the JVM's JIT and GC threads and the Python driver, and measured both
# slower and less steady (see CHANGES.md). SPARK_GRAFT_CPUS overrides.
DEFAULT_SPARK_CPUS = 2
SETUP_REPEATS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def quartiles(xs: list[float]) -> dict:
    xs = list(xs)
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return {"median": v, "q1": v, "q3": v, "n": len(xs)}
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM."""
    from pyspark import SparkContext

    return (_hwm_kb(os.getpid()) + _hwm_kb(SparkContext._gateway.proc.pid)) / 1024.0


def start_spark(root: str, work_dir: str):
    """Start the program's session with every scratch file under
    ``work_dir``: Spark local dirs, the JVM's and Python's temp dirs."""
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(DEFAULT_SPARK_CPUS))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_dir}"
    sys.path.insert(0, root)
    from local_etl_csv_to_postgresql_spark.session import get_spark

    return get_spark(
        "perfbench", extra_conf={"spark.sql.warehouse.dir": os.path.join(work_dir, "catalog")}
    )


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(passes, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.pass_s for p in passes),
        "pass_cpu_s": statistics.median(p.cpu_s for p in passes),
    }


def workload_figures(name: str, passes, wl) -> dict:
    """The workload's own figures, each with quartiles and sample count."""
    if name == "ingest":
        backfills = [b for b in wl.batches if b["kind"] == "backfill"]
        passes = [p for p in passes if p.samples]  # a pass that raised has none
        return {
            "backfill_rows_per_s": quartiles([b["rows"] / b["load_s"] for b in backfills]),
            "delta_load_p50_s": quartiles([p.samples["delta_load_s"] for p in passes]),
            "delta_validated_p50_s": quartiles([p.pass_s for p in passes]),
            "warehouse_bytes_per_input_byte": quartiles(
                [p.samples["warehouse_bytes"] / p.samples["input_bytes"] for p in passes]
            ),
            "persisted_frames_after_each_batch": [b["persisted_frames"] for b in wl.batches],
        }
    return {
        "library_pass_s": quartiles([p.pass_s for p in passes]),
        **{
            key: {
                q: quartiles([p.samples[key][q] for p in passes if q in p.samples[key]])
                for q in passes[0].samples[key]
            }
            for key in ("query_s", "query_cpu_s")
        },
    }


def per_layer(passes, wl, tracer, session_s: float) -> dict:
    """Every per-layer metric from the spans; layers a workload does not
    exercise read 0. Timings are medians: over the set-up backfills for
    ``sources``, ``operators`` and ``seed_dim_date``, over the timed
    deltas for the rest of ``warehouse`` and ``run_queries``, over the
    timed passes for the library. ``load_dimension_s`` sums the five
    concurrent dimension loads of a batch, so it is busy time, not wall
    time."""
    from workloads import LIBRARY_SAMPLE
    from local_etl_csv_to_postgresql_spark.run_queries import VALIDATION_QUERY_INDEXES

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    backfills = [b for b in getattr(wl, "batches", []) if b["kind"] == "backfill"]
    deltas = [p.samples["batch"] for p in passes if "batch" in p.samples]
    batches = backfills + deltas

    def spans(b):
        return tracer.spans[b["spans"][0]:b["spans"][1]]

    def per_batch(batches, name, what="seconds"):
        """Median over ``batches`` of the summed ``what`` of the spans
        called ``name``."""
        sums = []
        for b in batches:
            hit = [getattr(s, what) for s in spans(b) if s.name == name]
            if hit:
                sums.append(sum(hit))
        return med(sums)

    def ratio(num, den):
        return num / den if den else 0.0

    m = {
        "session.get_spark_s": session_s,
        "bench.traced_pass_s": med(p.pass_s for p in passes),
        "sources.extract_any_s": per_batch(backfills, "sources.extract_any"),
        "sources.rows_read": med(b["rows"] for b in backfills),
        "operators.transform_transactions_s": per_batch(
            backfills, "operators.transform_transactions"
        ),
        "operators.valid_ratio": ratio(
            sum(b["valid"] for b in batches), sum(b["rows"] for b in batches)
        ),
        "operators.jobs_per_batch": per_batch(
            batches, "operators.transform_transactions", what="jobs"
        ),
        "operators.persisted_frames": float(
            wl.batches[-1]["persisted_frames"] if backfills else 0
        ),
        "warehouse.seed_dim_date_s": per_batch(backfills, "warehouse.seed_dim_date"),
        "warehouse.jobs_per_delta": per_batch(deltas, "warehouse.load_warehouse", what="jobs"),
        "warehouse.fact_skip_ratio": ratio(
            sum(b["skipped"] for b in deltas), sum(b["rows"] for b in deltas)
        ),
        "warehouse.fact_files": med(p.samples.get("fact_files", 0) for p in passes),
        "warehouse.bytes_on_disk": med(p.samples.get("warehouse_bytes", 0) for p in passes),
        "warehouse.register_views_s": per_batch(deltas, "warehouse.register_views"),
    }
    for name in ("load_warehouse", "load_dimension", "enrich_fact", "load_fact", "snapshot"):
        m[f"warehouse.{name}_s"] = per_batch(deltas, f"warehouse.{name}")
    q_spans = [s for b in deltas for s in spans(b) if s.name.startswith("run_queries.q")]
    for q in VALIDATION_QUERY_INDEXES:
        m[f"run_queries.q{q:02d}_s"] = per_batch(deltas, f"run_queries.q{q:02d}")
    m["run_queries.jobs_per_query"] = med(s.jobs for s in q_spans)
    m["run_queries.recount_ratio"] = ratio(
        sum(s.attrs["total"] > 100 for s in q_spans), len(q_spans)
    )
    for name, layer in LIBRARY_SAMPLE.items():
        for key, suffix in (("query_s", "s"), ("query_jobs", "jobs")):
            m[f"{layer}.{name}_{suffix}"] = med(
                p.samples[key][name] for p in passes if name in p.samples.get(key, {})
            )
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not a checkout of the program; missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = os.path.join(root, OUT_DIR)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work_dir = os.path.join(out_dir, f"work-{run_id}-{os.getpid()}")
    load_start = os.getloadavg()
    t = time.perf_counter()
    spark = start_spark(root, work_dir)
    session_s = time.perf_counter() - t
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    attempted = failed = 0

    try:
        import tracing
        import workloads

        tracer = tracing.Tracer(spark, run_id) if args.trace else tracing.NullTracer()
        if args.trace:
            tracing.install(tracer)
        wl = workloads.WORKLOADS[args.workload](spark, tracer, work_dir, args.seed)
        wl.prepare()
        prepare_s = time.perf_counter() - T_START
        build_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            try:
                problems = wl.build()
            except Exception as e:  # noqa: BLE001 - a set-up that raises is a failed op
                problems = [repr(e)]
            build_s.append(time.perf_counter() - t)
            attempted += 1
            if problems:
                failed += 1
                print(f"[perfbench] set-up failed: {problems}", file=sys.stderr)
        setup_s = prepare_s + statistics.median(build_s)
        t = time.perf_counter()
        warm = [wl.run_pass() for _ in range(wl.warmup_passes)]
        warmup_s = time.perf_counter() - t
        t_measure = time.perf_counter()
        passes = []
        while len(passes) < wl.min_passes or time.perf_counter() - t_measure < args.seconds:
            passes.append(wl.run_pass())
        measured_s = time.perf_counter() - t_measure
        rss_mb = peak_rss_mb()
        provenance = {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": cpus,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    attempted += sum(p.attempted for p in warm + passes)
    failed += sum(p.failed for p in warm + passes)
    if args.trace:
        metrics = per_layer(passes, wl, tracer, session_s)
        tracer.dump(os.path.join(out_dir, f"spans-{run_id}.json"))
        wanted = spec["per_layer"]
    else:
        metrics = end_to_end(passes, setup_s)
        wanted = spec["end_to_end"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(passes),
        "measured_s": measured_s,
        "attempted": attempted,
        "failed": failed,
        "failed_op_ratio": failed / attempted,
        "pass_s": quartiles([p.pass_s for p in passes]),
        "pass_cpu_s": quartiles([p.cpu_s for p in passes]),
        "each_pass": [{"wall_s": p.pass_s, "cpu_s": p.cpu_s} for p in passes],
        "setup": {
            "session_s": session_s,
            "prepare_s": prepare_s,
            "build_s": build_s,
            "warmup_s": warmup_s,
            "warmup_pass_s": [p.pass_s for p in warm],
        },
        "figures": workload_figures(args.workload, passes, wl),
        "peak_rss_mb": rss_mb,
        "metrics": metrics,
        "provenance": provenance,
    }
    if args.trace:
        untraced = os.path.join(out_dir, f"record-{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["pass_s"]
            record["tracing_overhead_s"] = metrics["bench.traced_pass_s"] - base
    with open(os.path.join(out_dir, f"record-{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record, indent=1), file=sys.stderr)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
