"""Repository benchmark: two workloads against the public API on
``local[nproc]``, one closed-loop client, output checks in the same command.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` runs the traced decomposition and prints the
per-layer metrics. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it are a
readable summary. Run state (input cache, Spark scratch space, outputs, run
records and spans) lives under ``.perfbench/`` in the checkout. See
README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}

KG_SPANS = ("extract", "triples", "link", "canonicalize", "build_graph", "merge")
CURATE_STAGES = (
    "collapse", "filter", "exact_dedup", "line_dedup", "span_dedup",
    "near_dedup", "redact",
)
# Per-layer metrics, by the workloads that run the layer. A metric of a
# layer a workload does not run is reported as exactly 0 on that workload;
# every other per-layer metric is greater than 0.
COMMON_LAYERS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "staging.barriers": "count",
    "staging.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.driver_gap_s": "s",
    "py.to_python_mb": "MB",
    "py.from_python_mb": "MB",
    "py.udf_s": "s",
    "trace.total_s": "s",
}
KG_LAYERS = {
    **{f"miners.{m}.mb_per_s": "MB/s" for m in ("NER", "EMAIL", "URL", "DATE", "TEL_NO")},
    **{f"{s}.s": "s" for s in KG_SPANS},
    "extract.rows_out": "count",
    "triples.rows_out": "count",
    "link.rows_out": "count",
    "canonicalize.jobs": "count",
    "canonicalize.surfaces_in": "count",
    "canonicalize.groups_out": "count",
    "merge.jobs": "count",
    "merge.files_written": "count",
    "merge.mb_written": "MB",
    "merge.buckets_rewritten": "count",
    "merge.write_amp": "ratio",
}
CURATE_LAYERS = {
    **{f"curate.{s}.s": "s" for s in CURATE_STAGES},
    "curate.filter.docs_out": "count",
    "curate.exact_dedup.docs_out": "count",
    "curate.line_dedup.docs_out": "count",
    "curate.span_dedup.removed_chars": "count",
    "curate.near_dedup.docs_out": "count",
    "curate.redact.docs_out": "count",
    "near_dedup.verified_frac": "ratio",
}
PER_LAYER = {**COMMON_LAYERS, **KG_LAYERS, **CURATE_LAYERS}
LAYERS_RUN = {
    "kg_build": {**COMMON_LAYERS, **KG_LAYERS},
    "curate_dups": {**COMMON_LAYERS, **CURATE_LAYERS},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("kg_build", "curate_dups"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def require_program() -> None:
    if not os.path.isdir(os.path.join(ROOT, "nativeextractor_spark")):
        print(
            f"perfbench: no nativeextractor_spark/ package in {ROOT}; "
            "run from the root of a checkout of the repository",
            file=sys.stderr,
        )
        sys.exit(2)


def prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    for d in ("tmp", "spark-local", "runs", "work", "cache"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # every JVM (Spark's launcher and the driver) would otherwise keep its
    # monitoring counters in /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    sys.path.insert(0, ROOT)


def start_session(app: str, ui: bool):
    from nativeextractor_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": str(ui).lower(),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(STATE, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(STATE, "tmp", "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(STATE, "tmp", "hadoop"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')} "
            f"-Dderby.system.home={os.path.join(STATE, 'tmp')}"
        ),
    }
    if ui:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(app, master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start every Python worker, import the package in it and compile the
    default miners (the first-batch cost a long-lived executor pays once)."""
    import pandas as pd

    def kernel(batches):
        from nativeextractor_spark.kg.pipeline import default_kg_miners

        for m in default_kg_miners():
            list(m.find("warm a@b.cd http://x.io 2020-01-02 spark"))
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    n = 4 * nproc()
    spark.range(n, numPartitions=n).mapInPandas(kernel, schema="n long").count()


def setup(workload: str, ui: bool) -> tuple:
    """What a user pays before the first operation: launch the JVM, start
    the session and warm the Python workers. This is the first session of
    the process, so the JVM launch is part of ``start_s``."""
    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{workload}", ui)
    t1 = time.perf_counter()
    warm_workers(spark)
    t2 = time.perf_counter()
    return spark, {"start_s": t1 - t0, "warm_s": t2 - t1, "total_s": t2 - t0}


def shutdown(spark) -> list[int]:
    """Stop Spark, end the JVM gateway and wait for every process it
    started; returns pids still running at the timeout."""
    from pyspark import SparkContext

    from system import descendants, wait_gone

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return wait_gone(kids, 60)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(w, seconds: float, tracer, barriers) -> list[dict]:
    """Closed loop: one operation at a time, at least one, until
    ``seconds`` have passed. In the traced run every operation is traced."""
    samples = []
    t_begin = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_begin < seconds:
        w.before(i)
        sample = {"i": i, "errors": []}
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                barriers.calls, barriers.seconds = 0, 0.0
                with tracer.span("op", i=i) as op:
                    result = w.run(i, tracer)
                sample["span"] = op
                sample["barriers"] = (barriers.calls, barriers.seconds)
            else:
                result = w.run(i)
            sample["seconds"] = time.perf_counter() - t0
            sample["result"] = result
            sample["errors"] = w.check(i, result)
        except Exception:  # a failed operation is counted, not fatal
            sample.setdefault("seconds", time.perf_counter() - t0)
            sample["errors"].append(traceback.format_exc(limit=5))
        samples.append(sample)
        i += 1
    return samples


def end_to_end(w, samples, cycle, peak_rss) -> dict:
    times = [s["seconds"] for s in samples]
    return {
        "setup_s": cycle["total_s"],
        "wall_s": statistics.fmean(times),
        "docs_per_s": w.docs_per_op * len(times) / sum(times),
        "peak_rss_mb": peak_rss / 1e6,
    }


def per_layer(w, samples, cycle, tracer, spark, miners) -> dict:
    from spans import SparkRest, op_rollup
    from workloads import CURATE_DOCS_OUT, verified_frac

    groups = SparkRest(spark.sparkContext).by_group()
    per_op = []
    for s in samples:
        if "result" not in s:
            continue
        op = s["span"]
        m = {}
        for sp in tracer.subtree(op)[1:]:
            key = f"{sp.name}.s"
            m[key] = m.get(key, 0.0) + sp.seconds
        for name in ("canonicalize", "merge"):
            m[f"{name}.jobs"] = sum(
                groups.get(sp.span_id, {}).get("jobs", 0)
                for sp in tracer.subtree(op) if sp.name == name
            )
        roll = op_rollup(tracer, op, groups)
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "shuffle_write_mb", "shuffle_read_mb", "driver_gap_s"):
            m[f"spark.{k}"] = roll[k]
        for k in ("to_python_mb", "from_python_mb", "udf_s"):
            m[f"py.{k}"] = roll[f"py_{k}"]
        m["staging.barriers"], m["staging.s"] = s["barriers"]
        result = s["result"]
        if "layers" in result:
            m.update(result["layers"])
        else:  # curate_corpus metrics dict
            for stage, key in CURATE_DOCS_OUT.items():
                m[f"curate.{stage}.docs_out"] = result[key]
            m["curate.span_dedup.removed_chars"] = result["span_dedup_removed_chars"]
        m["trace.total_s"] = s["seconds"]
        per_op.append(m)
    out = {k: 0.0 for k in PER_LAYER}
    for k in LAYERS_RUN[w.name]:
        vals = [m[k] for m in per_op if k in m]
        if vals:
            out[k] = median(vals)
    out["session.start_s"] = cycle["start_s"]
    out["session.warm_s"] = cycle["warm_s"]
    out.update(miners)
    if getattr(w, "lsh_calls", None):
        out["near_dedup.verified_frac"] = verified_frac(spark, w.lsh_calls)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    require_program()
    prepare_env()
    sys.path.insert(0, HERE)

    import inputs
    import system
    from spans import BarrierCounter, Tracer, patched
    from workloads import WORKLOADS, miner_throughput

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    marks = [("start", time.perf_counter())]
    calibration = system.calibration(nproc())
    marks.append(("calibration", time.perf_counter()))
    # inputs first: building them (on a cache miss) is outside every timing
    inp = inputs.locate(os.path.join(STATE, "cache"), args.seed)
    inputs.build_inputs(inp, args.seed)
    marks.append(("inputs", time.perf_counter()))
    spark, cycle = setup(args.workload, bool(args.trace))
    marks.append(("setup", time.perf_counter()))
    tracer = Tracer(spark.sparkContext, run_id) if args.trace else None
    work = os.path.join(STATE, "work", args.workload)
    w = WORKLOADS[args.workload](spark, inp, work)
    miners = miner_throughput(inp) if args.trace and w.name == "kg_build" else {}

    barriers = BarrierCounter()
    import nativeextractor_spark.staging as staging

    cpu0 = system.cpu_jiffies()
    with system.RssSampler() as rss:
        if tracer is not None:
            with patched(staging, "materialize", barriers.wrap):
                samples = measure(w, args.seconds, tracer, barriers)
        else:
            samples = measure(w, args.seconds, None, barriers)
    cpu = system.cpu_shares(cpu0, system.cpu_jiffies())
    marks.append(("operations_and_checks", time.perf_counter()))

    if args.trace:
        metrics = per_layer(w, samples, cycle, tracer, spark, miners)
        units = PER_LAYER
    else:
        metrics = end_to_end(w, samples, cycle, rss.peak)
        units = END_TO_END
    marks.append(("metrics", time.perf_counter()))
    left = shutdown(spark)
    marks.append(("shutdown", time.perf_counter()))

    failed = [s for s in samples if s["errors"]]
    record = {
        "run_id": run_id,
        "args": vars(args),
        "nproc": nproc(),
        "calibration": calibration,
        "cpu_during_ops": cpu,
        "phase_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        "peak_rss_by_process": rss.peak_by_process,
        "setup": cycle,
        "samples": [
            {"i": s["i"], "seconds": s["seconds"], "errors": s["errors"]}
            for s in samples
        ],
        "ops_failed_frac": len(failed) / len(samples),
        "quality": w.quality(),
        "metrics": metrics,
        "processes_left": left,
    }
    runs = os.path.join(STATE, "runs")
    with open(os.path.join(runs, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(os.path.join(runs, f"{run_id}.spans.json"))

    for s in failed:
        print(f"perfbench: operation {s['i']} failed: {s['errors']}", file=sys.stderr)
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"{len(samples)} operations, "
        f"ops_failed_frac={record['ops_failed_frac']:.3f}, "
        + ", ".join(f"{k}={v}" for k, v in w.quality().items())
        + f"; calibration {calibration['slowdown_1_to_n']:.3f}x slowdown "
        f"1→{calibration['nproc']} procs; record {os.path.relpath(runs, ROOT)}/{run_id}.json"
    )
    print(json.dumps({
        "correct": not failed and not left,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
