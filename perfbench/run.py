"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Builds a Spark session with the settings
fixed in ``perfbench/config.json`` (never read from the environment), makes
the workload's inputs from ``--seed`` in a fresh state directory under the
checkout, times ops in a closed loop for ``--seconds`` of op time, checks
every op's output, and prints one JSON object as the last line of stdout:

    {"correct": …, "attempted": …, "failed": …, "metrics": {name: {value, unit}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a traced run and writes the spans under
``.perfbench_out/``. Exits non-zero without a result when the program
under test is missing.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s"}
LAYER_UNITS = {
    "session.start_s": "s",
    "setup.gen_s": "s",
    "setup.warmup_s": "s",
    "plans.build_s": "s",
    "plans.optimize_s": "s",
    "plans.collect_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "barrier.eager_calls": "count",
    "barrier.eager_s": "s",
    "pipeline.decontam_s": "s",
    "pipeline.minhash_s": "s",
    "pipeline.embedding_s": "s",
    "stores.writes": "count",
    "stores.write_s": "s",
    "stores.compact_s": "s",
    "stores.files_live": "count",
    "extraction.batch_s": "s",
    "extraction.mentions": "count",
    "extraction.resolved_ratio": "ratio",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "dedup.candidate_pairs": "count",
    "dedup.pair_yield": "ratio",
    "linear_model.svm_s": "s",
    "linear_model.jobs_per_iter": "count",
    "kmeans.train_s": "s",
    "kmeans.jobs_per_iter": "count",
    "bpe.train_s": "s",
    "bpe.jobs_per_merge": "count",
    "trace.items_per_s": "1/s",
}


class Context:
    def __init__(self, spark, cfg, seed, state, tracer, jobs):
        self.spark, self.cfg, self.seed, self.state = spark, cfg, seed, state
        self.tracer, self.jobs = tracer, jobs

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fixed_environment(state: str) -> None:
    """Pin everything the program or Spark would otherwise take from the
    caller's environment."""
    for var in list(os.environ):
        if var.startswith(("SPARK_GRAFT_", "PYSPARK_")) or var in (
            "SPARK_DRIVER_MEMORY",
            "EXTRACTION_NER_FACTORY",
            "SPARK_CONF_DIR",
        ):
            del os.environ[var]
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import the program (extraction's mapInPandas does)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def build_spark(cfg: dict, state: str):
    from sentinela_py_spark.session import build_session

    s = cfg["spark"]
    tmp = os.path.join(state, "tmp")
    return build_session(
        app_name="perfbench",
        master=s["master"],
        shuffle_partitions=s["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": s["driver_memory"],
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def install_wrappers(tracer) -> None:
    """Timing wrappers around the program's public functions, bound
    wherever callers imported them."""
    import sentinela_py_spark.barrier as barrier
    import sentinela_py_spark.functions.linear_model as linear_model
    import sentinela_py_spark.operators.dedup as dedup
    import sentinela_py_spark.plans  # noqa: F401 — load every plan module first
    import sentinela_py_spark.streaming.pipeline as pipeline
    import sentinela_py_spark.streaming.stores as stores

    prefix = "sentinela_py_spark"
    tracer.wrap_everywhere(prefix, barrier.barrier_eager, "barrier.eager")
    tracer.wrap_everywhere(prefix, pipeline.decontamination_screen_batch, "pipeline.decontam")
    tracer.wrap_everywhere(prefix, pipeline.dedup_batch_against_corpus, "pipeline.minhash")
    tracer.wrap_everywhere(prefix, pipeline.embedding_dedup_batch_against_corpus, "pipeline.embedding")
    tracer.wrap_everywhere(prefix, stores.write_epoch_partition, "stores.write")
    tracer.wrap_everywhere(prefix, dedup.connected_components, "dedup.cc")
    tracer.wrap_everywhere(prefix, linear_model.svm_weights, "linear_model.svm")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sentinela_py_spark")):
        print("perfbench: the program (sentinela_py_spark/) is not in this checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)

    from tracing import SparkJobs, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench_state", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    fixed_environment(state)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            t = time.perf_counter()
            spark = build_spark(cfg, state)
            session_s = time.perf_counter() - t
        jobs = SparkJobs(spark) if args.trace else None
        if args.trace:
            install_wrappers(tracer)
        ctx = Context(spark, cfg, args.seed, state, tracer, jobs)
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - PROCESS_START

        # warm-up ops are attempted ops too, with ids -1, -2, …
        failed_ops = {-1 - k for k, problems in enumerate(warm) if problems}
        for i in sorted(failed_ops, reverse=True):
            ctx.log(f"warm-up op {i} failed its check: {warm[-1 - i]}")
        durations, layer_rows, ops_done = [], [], []
        items, measured = 0, 0.0
        sc = spark.sparkContext
        for op in wl.ops():
            if wl.done(len(durations), measured, args.seconds):
                break
            wl.prepare(op)
            tag = f"perfbench-op-{op['i']}"
            sc.addJobTag(tag)
            tracer.op = op["i"]
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                result = wl.run(op)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                traceback.print_exc()
                result = None
            dt_op = time.perf_counter() - t0
            wall1 = time.time()
            tracer.op = None
            sc.removeJobTag(tag)
            durations.append(dt_op)
            measured += dt_op
            items += wl.items(op)
            ops_done.append(op)
            if result is None:
                failed_ops.add(op["i"])
                continue
            try:
                problems = wl.check(op, result)
            except Exception:  # noqa: BLE001
                problems = [traceback.format_exc()]
            if problems:
                ctx.log(f"op {op['i']} failed its check: {problems}")
                failed_ops.add(op["i"])
            if args.trace:
                jobs.refresh()
                row = jobs.window_metrics(wall0, wall1)
                row.update(wl.layer_metrics(op, result))
                row["barrier.eager_calls"] = float(len(tracer.op_spans(op["i"], "barrier.eager")))
                row["barrier.eager_s"] = tracer.total(op["i"], "barrier.eager")
                layer_rows.append(row)
        for i, problems in wl.finish().items():
            ctx.log(f"op {i} failed a run-end check: {problems}")
            failed_ops.add(i)

        attempted = len(durations) + len(warm)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, f"ops-{stem}.json"), "w") as f:
            json.dump(
                {
                    "setup": {"session_s": session_s, "gen_s": gen_s, "warmup_s": warmup_s},
                    "ops": [[op.get("name", op["i"]), d] for op, d in zip(ops_done, durations)],
                },
                f,
            )
        if args.trace:
            metrics = layer_metrics(layer_rows, session_s, gen_s, warmup_s, items / measured)
            units = LAYER_UNITS
            tracer.write(os.path.join(out_dir, f"trace-{stem}.json"))
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(durations),
                "items_per_s": items / measured,
            }
            units = END_TO_END_UNITS
        out = {
            "correct": not failed_ops,
            "attempted": attempted,
            "failed": len(failed_ops),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        tracer.unwrap_all()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(state, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


def layer_metrics(rows, session_s, gen_s, warmup_s, traced_items_per_s) -> dict:
    """Median over ops of each per-op layer value; layers a workload does
    not reach read 0."""
    out = {k: 0.0 for k in LAYER_UNITS}
    out.update({"session.start_s": session_s, "setup.gen_s": gen_s, "setup.warmup_s": warmup_s})
    for k in {k for r in rows for k in r}:
        vals = [r[k] for r in rows if r.get(k) is not None]
        if vals:
            out[k] = float(statistics.median(vals))
    out["trace.items_per_s"] = traced_items_per_s
    return out


if __name__ == "__main__":
    sys.exit(main())
