"""Extraction benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload batch_extract --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``batch_extract``: ``extract_nested`` passes over a cached docs corpus;
- ``snapshot_tail``: cycles of ``append_snapshot`` of a fixed slice, then
  ``tail_once``.

With ``--trace 0`` the last stdout line reports every end-to-end metric of
BENCHMARK.json.  With ``--trace 1`` the command makes a traced run instead
(``run_traced``) and reports every per-layer metric; it also writes the
spans and the per-stage event-log table to
``.perfbench/trace-<workload>-<seed>.json``.  A failed output check marks
operations failed and makes the command exit 1.  Inputs, Spark scratch
space and event logs stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
DRIVER_MEMORY = "2g"  # leaves room for the Python workers on a 15 GiB machine
# Only the quick C1 JIT tier: with the optimising C2 tier, operations kept
# getting faster for 4-6 operations after the first, longer than a run can
# prime, so the timed ones sat on a warm-up slope paced by host load.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"
PRIME_OPS = 1  # the cold operation: class loading, codegen, first compiles
MIN_OPS = 3  # timed operations per run, at least
TRACE_PLAIN_OPS = 1  # untraced operations on each side of the traced phase
WORKLOADS = ("batch_extract", "snapshot_tail")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Python workers import the program from the checkout; temporary
    files stay inside it."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path.insert(0, str(ROOT))


def start_spark(event_dir: Path | None = None):
    from reading_the_unreadable_spark.session import get_spark
    from workloads import NUM_PARTITIONS

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData {JIT_OPTIONS}"
        ),
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        "perfbench", cpus=os.cpu_count(), shuffle_partitions=NUM_PARTITIONS, extra_conf=conf
    )


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and, through it, the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str, tag: str, store):
    from workloads import BatchWorkload, TailWorkload

    cls = TailWorkload if name == "snapshot_tail" else BatchWorkload
    return cls(tag, store, WORK / "run")


def setup(workload, event_dir: Path | None = None):
    """Everything up to the first timed operation: session start (the
    first one in a process launches the JVM), loading the input, then
    PRIME_OPS full operations, which pay the one-time costs.  Input
    generation is not part of it.  Returns (spark, seconds, primes)."""
    from tracing import Tracer

    t0 = time.monotonic()
    spark = start_spark(event_dir)
    workload.load(spark)
    primes = [workload.run_op(-1 - k, Tracer(), spark) for k in range(PRIME_OPS)]
    return spark, time.monotonic() - t0, primes


def timed_ops(workload, seconds: float, tracer, spark, min_ops: int = MIN_OPS) -> list[dict]:
    from workloads import timed_loop

    return timed_loop(
        lambda i: workload.run_op(i, tracer, spark), seconds, min_ops, limit=workload.ops_left()
    )


def benchmark_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def result(spec_metrics: list[dict], values: dict, ops: list[dict], problems: list[str]) -> dict:
    """The result line.  A problem found outside the per-operation checks
    (oracle sample, stray output) fails every operation: they all produced
    the same output."""
    missing = [m["name"] for m in spec_metrics if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    return {
        "correct": not problems,
        "attempted": len(ops),
        "failed": len(ops) if problems else sum(1 for o in ops if not o["ok"]),
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec_metrics
        },
    }


def run_untraced(args, workload, spec) -> tuple[dict, dict]:
    from sysstat import median, peak_rss_mb
    from tracing import Tracer

    spark, setup_s, primes = setup(workload)
    ops = timed_ops(workload, args.seconds, Tracer(), spark)
    t0 = time.monotonic()
    problems = workload.check(spark, primes, ops)
    check_s = time.monotonic() - t0
    wall = median([o["wall"] for o in ops])
    values = {
        # docs / median wall of an operation: a pass, or a cycle's tail_once
        "extract_docs_per_s": workload.n_docs / wall,
        "extract_core_ms_per_doc": median([o["busy_ms"] / workload.n_docs for o in ops]),
        # input committed → output ready: the whole pass on batch_extract
        "tail_latency_s": wall,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb(),
    }
    spark.stop()
    detail = {
        "prime_s": [p["wall"] for p in primes],
        "op_wall_s": [o["wall"] for o in ops],
        "op_busy_ms": [o["busy_ms"] for o in ops],
        "check_s": check_s,
        "problems": problems,
    }
    return result(spec["end_to_end"], values, ops, problems), detail


NOT_ON_BATCH_PATH = (
    "snapshots.append_s", "snapshots.incremental_read_s", "checkpoint.run_s",
    "checkpoint.read_s", "checkpoint.compact_s", "tail.state_s",
    "tail.jobs_per_cycle", "checkpoint.files_written_per_cycle",
)


def run_traced(args, workload, spec) -> tuple[dict, dict]:
    """Three phases, each a fresh SparkContext in the same JVM:

    1. untraced: set-up, then TRACE_PLAIN_OPS operations;
    2. traced: Spark's event log on, one prime, MIN_OPS operations with
       spans recorded (and, on snapshot_tail, wrappers around the module
       functions a cycle calls), then the layer probes;
    3. untraced again: one prime, TRACE_PLAIN_OPS operations.

    The traced phase is compared with the untraced operations on both
    sides of it, so drift across the phases cancels out."""
    import tracing
    from sysstat import median
    from tracing import Tracer

    is_tail = workload.name == "snapshot_tail"
    spark, _, primes = setup(workload)
    plain = timed_ops(workload, 0, Tracer(), spark, min_ops=TRACE_PLAIN_OPS)
    workload.unload()
    spark.stop()

    event_dir = WORK / "eventlog"
    shutil.rmtree(event_dir, ignore_errors=True)
    spark, _, primes2 = setup(workload, event_dir)
    tracer = Tracer(spark.sparkContext, enabled=True)
    undo = workload.wrap(tracer) if is_tail else []
    try:
        traced_ops = timed_ops(workload, 0, tracer, spark)
    finally:
        for u in undo:
            u()
    layers = workload.probes(spark, tracer, traced_ops)
    workload.unload()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    spark, _, primes3 = setup(workload)
    plain += timed_ops(workload, 0, Tracer(), spark, min_ops=TRACE_PLAIN_OPS)
    problems = workload.check(spark, [*primes, *primes2, *primes3], [*traced_ops, *plain])
    workload.unload()
    spark.stop()

    jobs, stages = tracing.read_event_log(event_dir / app_id)
    rows = tracing.stage_table(jobs, stages)

    def subtree(span_id):
        return {span_id} | {s["id"] for s in tracer.descendants(span_id)}

    per_op = [tracing.layer_totals(rows, subtree(o["span"])) for o in traced_ops]
    for layer in tracing.STAGE_LAYERS:
        for field in tracing.STAGE_FIELDS:
            layers[f"{layer}.{field}"] = median([t[layer][field] for t in per_op])
    if is_tail:
        layers.update(workload.cycle_layers(tracer, traced_ops))
        layers["tail.jobs_per_cycle"] = median(
            [tracing.jobs_in(jobs, subtree(o["tail_span"])) for o in traced_ops]
        )
        full = next(s for s in tracer.spans if s["name"] == "probe.extract.full")
        layers["extract.jobs_per_pass"] = tracing.jobs_in(jobs, {full["id"]})
    else:
        # measured as zero: these layers are not on this workload's path
        layers.update(dict.fromkeys(NOT_ON_BATCH_PATH, 0.0))
        layers["extract.jobs_per_pass"] = median(
            [tracing.jobs_in(jobs, subtree(o["span"])) for o in traced_ops]
        )
    plain_wall = median([o["wall"] for o in plain])
    layers["trace.overhead_pct"] = 100.0 * (median([o["wall"] for o in traced_ops]) / plain_wall - 1)

    all_ops = [*traced_ops, *plain]
    detail = {
        "problems": problems,
        "trace": {
            "workload": workload.name,
            "seed": args.seed,
            "untraced_op_wall_s": [o["wall"] for o in plain],
            "traced_op_wall_s": [o["wall"] for o in traced_ops],
            "per_layer": layers,
            "problems": problems,
            "spans": tracer.spans,
            "stages": rows,
        },
    }
    return result(spec["per_layer"], layers, all_ops, problems), detail


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_env()
    try:
        import pyarrow
        import pyspark

        import reading_the_unreadable_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from inputs import InputStore, seed_tag
    from sysstat import noise_block, noise_start, wait_descendants
    from workloads import NUM_PARTITIONS

    spec = benchmark_spec()
    start = noise_start()
    t0 = time.monotonic()
    store = InputStore(WORK / "inputs", workers=os.cpu_count())
    workload = make_workload(args.workload, seed_tag(args.seed), store)
    gen_s = time.monotonic() - t0
    runner = run_traced if args.trace else run_untraced
    try:
        res, detail = runner(args, workload, spec)
    finally:
        stop_jvm()
        wait_descendants(timeout=60)
    noise = noise_block(
        start,
        driver_memory=DRIVER_MEMORY,
        jvm_options=JIT_OPTIONS,
        num_partitions=NUM_PARTITIONS,
        spark_version=pyspark.__version__,
        pyarrow_version=pyarrow.__version__,
    )
    detail.update(input_gen_s=gen_s, noise=noise)
    if "trace" in detail:
        trace_path = WORK / f"trace-{args.workload}-{args.seed}.json"
        with open(trace_path, "w") as f:
            json.dump({**detail.pop("trace"), "noise": noise}, f, indent=1)
        detail["trace_file"] = str(trace_path.relative_to(ROOT))
    print(json.dumps({"detail": detail}))
    print(json.dumps(res))
    return 0 if res["correct"] and res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
