#!/usr/bin/env python3
"""The pipeline benchmark: one workload, one process, local[nproc].

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` under a scratch
directory of the checkout, sets the session up (setup_s), then runs
closed-loop iterations of the workload until
``--seconds`` have passed (at least one), checks every output, and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
the per-layer metrics of traced iterations and writes the spans to
``<checkout>/.perfbench_work/spans-<workload>-<seed>.jsonl``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layers reported on every traced run; corpus/operators only appear on
# the corpus_prep workload, which is not in BENCHMARK.json (README)
LAYERS = ("session", "sources.rest_source", "sources.solr_xml", "standardize", "enrich",
          "pipeline", "sinks.xml_sink", "metrics", "sinks.json_sink", "sinks.html_sink")
COMMON = ("plan_s", "plan_rpcs", "exec_s", "jobs", "tasks", "shuffle_write_bytes",
          "executor_cpu_s", "rows_out")
UNITS = {"plan_s": "s", "plan_rpcs": "count", "exec_s": "s", "jobs": "count", "tasks": "count",
         "shuffle_write_bytes": "bytes", "executor_cpu_s": "s", "rows_out": "rows"}


def _launch_env(work: str) -> int:
    """Environment the session and its workers inherit: the repo and
    this directory on PYTHONPATH (workers unpickle program functions and
    the harvest stub by module path), one task slot per CPU, and every
    scratch directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([pp] if pp else []))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a bounded driver heap: the session's 8g default lets the JVM grow
    # by 1-3 GB run to run, which swamps peak_pss_mb; these inputs fit
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    return cpus


def _session(work: str):
    from data_governance_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })


def _warm(spark, cpus: int) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.sparkContext.parallelize(range(cpus), cpus).map(lambda x: x + 1).sum()


def _stop_all(spark) -> None:
    """Stop Spark, the gateway JVM and wait for every descendant."""
    from pyspark import SparkContext

    from spans import children_map

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort below
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        if not children_map().get(os.getpid()):
            return
        time.sleep(0.2)
    for pid in children_map().get(os.getpid(), []):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except OSError:
            pass


def _layer_metrics(tracer, traced_iters: int) -> dict[str, float]:
    """Per-layer sums over spans, self time only, per traced iteration
    (the session layer: the one set-up).

    A span's self time splits into exec_s (covered by its own Spark
    stages) and plan_s (the rest: driver work). rows_out is the rows
    its own jobs wrote (stage output records)."""
    from spans import union_length

    kids: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    acc = {layer: dict.fromkeys(COMMON, 0.0) for layer in LAYERS}
    for s in tracer.spans:
        a = acc.setdefault(s.layer, dict.fromkeys(COMMON, 0.0))
        x = s.extra
        children = kids.get(s.sid, [])
        self_wall = (s.end - s.start) - union_length(
            [(c.start, c.end) for c in children], s.start, s.end)
        job_wall = union_length(x["intervals"], s.start, s.end)
        a["plan_s"] += max(self_wall - job_wall, 0.0)
        a["exec_s"] += job_wall
        a["plan_rpcs"] += s.rpcs - sum(c.rpcs for c in children)
        for k in ("jobs", "tasks", "shuffle_write_bytes", "executor_cpu_s", "rows_out"):
            a[k] += x[k]
    out = {}
    for layer, a in acc.items():
        n = 1 if layer == "session" else max(traced_iters, 1)
        for k, v in a.items():
            out[f"{layer}.{k}"] = v / n
    return out


def _setup(wl, work: str, cpus: int, tracer):
    """Session creation (JVM start included) + warm-up + dimension
    load, once: the set-up a batch process pays. Returns the session
    and its wall time. Repeating it with fresh SparkContexts would cost
    3-5 s a repeat, more than a full sweep's time budget leaves
    (README)."""
    t0, w0, c0 = time.perf_counter(), time.time(), tracer.counter.count
    spark = _session(work)
    if tracer.enabled:
        tracer.record("session.get_spark", "session", w0, time.time(),
                      tracer.counter.count - c0)
    tracer.sc = spark.sparkContext
    with tracer.span("session.warm_and_load_dims", "session"):
        _warm(spark, cpus)
        wl.load_dims(spark)
    return spark, time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import data_governance_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found next to the benchmark: {e}", file=sys.stderr)
        return 2
    import workloads as W
    from spans import PssSampler, Py4JCounter, Tracer

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    W.cleanup(work)
    os.makedirs(work)
    cpus = _launch_env(work)
    mem = PssSampler(os.getpid())
    mem.start()
    spark = None
    counter = Py4JCounter()
    tracer = Tracer(None, counter, f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    try:
        wl = W.WORKLOADS[args.workload]()
        info = wl.generate(args.seed, work)
        counter.install()
        spark, setup_s = _setup(wl, work, cpus, tracer)
        wl.prepare(spark)
        sc = spark.sparkContext
        layers = W.Layers(tracer)

        # -- the timed closed loop (every iteration traced in a traced run)
        iters, walls = [], []
        failed_calls = attempted_calls = 0
        t_start = time.perf_counter()
        while True:
            i = attempted_calls
            tracer.enabled = bool(args.trace)
            sc.setJobGroup(tracer._group(None), "bench")
            attempted_calls += 1
            t0 = time.perf_counter()
            try:
                res = wl.iteration(spark, layers, i)
            except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                failed_calls += 1
                res = None
            wall = time.perf_counter() - t0
            tracer.enabled = False
            if res is not None:
                iters.append(res)
                walls.append(wall)
            if failed_calls >= 2 or (walls and time.perf_counter() - t_start >= args.seconds):
                break

        # -- output checks (failures are counted, never fatal)
        checks = []
        if iters:
            try:
                checks = wl.check(spark)
            except Exception as e:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                checks = [("check_raised", False, f"{type(e).__name__}: {e}")]
        for name, ok, detail in checks:
            if not ok:
                print(f"perfbench: check {name} FAILED: {detail}", file=sys.stderr)
        failed_checks = sum(1 for _n, ok, _d in checks if not ok)

        # -- task attempts and failures: untraced work + every span
        tracer.finish()
        loop = tracer.stage_stats(tracer._group(None))
        loop_spans = [s for s in tracer.spans if s.layer != "session"]
        tasks = loop["tasks"] + sum(s.extra["tasks"] for s in loop_spans)
        failed_tasks = loop["failed_tasks"] + sum(s.extra["failed_tasks"] for s in loop_spans)
        n_checks = max(len(checks), 1)
        attempted = attempted_calls + tasks + n_checks
        failed = failed_calls + failed_tasks + (failed_checks if checks else 1)

        metrics: dict[str, dict] = {}

        def put(name, value, unit):
            metrics[name] = {"value": value, "unit": unit}

        if not args.trace:
            put("setup_s", setup_s, "s")
            put("records_per_s", sum(r["records"] for r in iters) / sum(walls) if walls else 0.0,
                "1/s")
            put("batch_latency_p50_s", statistics.median(walls) if walls else 0.0, "s")
            put("peak_pss_mb", mem.peak_mb, "MB")
        else:
            per_layer = _layer_metrics(tracer, len(walls))
            for name, v in per_layer.items():
                put(name, v, UNITS[name.rsplit(".", 1)[1]])
            n = max(len(iters), 1)

            def mean_of(key):
                return sum(r.get(key, 0) for r in iters) / n

            lay = per_layer
            stats = getattr(wl, "stats", {})
            solr_t = lay["sources.solr_xml.plan_s"] + lay["sources.solr_xml.exec_s"]
            put("sources.solr_xml.docs_per_s",
                lay["sources.solr_xml.rows_out"] / solr_t if solr_t else 0.0, "1/s")
            put("sources.solr_xml.kept_frac", stats.get("sources.solr_xml.kept_frac", 0.0),
                "ratio")
            put("sources.rest_source.upsert_kept_frac",
                stats.get("sources.rest_source.upsert_kept_frac", 0.0), "ratio")
            put("pipeline.checkpoint_bytes", mean_of("checkpoint_bytes"), "bytes")
            put("sinks.xml_sink.bytes_out", mean_of("xml_bytes"), "bytes")
            reports = mean_of("reports")
            put("sinks.html_sink.jobs_per_report",
                lay["sinks.html_sink.jobs"] / reports if reports else 0.0, "count")
            rep = [r["report_latency"] for r in iters if "report_latency" in r]
            put("sinks.html_sink.report_latency_p50_s", statistics.median(rep) if rep else 0.0,
                "s")
            put("metrics.tasks_per_output_row",
                lay["metrics.tasks"] / lay["metrics.rows_out"] if lay["metrics.rows_out"] else 0.0,
                "count")
            # tracing overhead = trace.iteration_s here minus
            # batch_latency_p50_s of the untraced run with the same seed
            it = statistics.median(walls) if walls else 0.0
            put("trace.iteration_s", it, "s")
            plan = sum(v for k, v in lay.items()
                       if k.endswith(".plan_s") and not k.startswith("session."))
            put("trace.plan_share", plan / it if it else 0.0, "ratio")
            tracer.write(os.path.join(ROOT, ".perfbench_work",
                                      f"spans-{args.workload}-{args.seed}.jsonl"))

        result = {
            "correct": bool(checks) and failed_checks == 0 and failed_calls == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "input_digest": info["digest"], "input_records": info["records"],
                          "iterations": len(iters), "iteration_walls": walls,
                          "setup_s": setup_s,
                          "checks": [[n, ok, d] for n, ok, d in checks]}), file=sys.stderr)
    finally:
        counter.uninstall()
        try:
            _stop_all(spark)
        finally:
            mem.stop()
            W.cleanup(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
