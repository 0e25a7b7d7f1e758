"""Two-parallelism scaling benchmark (north-rule evidence).

Runs the identical extraction job (same input, same code) at two
parallelism levels — default local[2] vs local[8], the sandbox stand-in
for N vs 4N executors — via spark-submit --py-files, takes best-of-K wall
time per level (the VM shows heavy run-to-run CPU noise; best-of reflects
capability, noise only slows), and writes BENCH/BASELINE.md +
BENCH/scaling.json with throughput at both levels and
efficiency = (thr_hi / thr_lo) / (hi / lo).

Usage: python scripts/scaling_bench.py [--docs 64000] [--trials 3]
       [--levels 2 8]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def build_pkg() -> str:
    zip_path = "/tmp/rtu_pkg_scaling.zip"
    subprocess.run(
        ["zip", "-qr", "-FS", zip_path, "reading_the_unreadable_spark"],
        cwd=REPO,
        check=True,
    )
    return zip_path


def _synth_tag() -> str:
    """Generator fingerprint — invalidates cached corpora when synth.py
    changes (stale spans would not match re-derived geometry).  Hashes
    the FULL synth_page output (text included), not just geometry."""
    import hashlib

    sys.path.insert(0, str(REPO))
    from reading_the_unreadable_spark.synth import synth_page

    boxes = synth_page("bench-cache-probe_page_0")
    h = hashlib.md5()
    for b in boxes:
        h.update(
            repr(
                (b.kind, b.text, b.media_ref, b.offset, b.x1, b.y1, b.x2, b.y2, b.confidence)
            ).encode()
        )
    return h.hexdigest()[:8]


def gen_input(n_docs: int) -> str:
    path = f"/tmp/scaling_docs_{n_docs}_{_synth_tag()}"
    if not Path(path, "_SUCCESS").exists():
        sys.path.insert(0, str(REPO))
        from reading_the_unreadable_spark.datagen import make_corpus_df
        from reading_the_unreadable_spark.session import get_spark

        spark = get_spark("scaling-gen", cpus=32, shuffle_partitions=64)
        make_corpus_df(spark, n_docs, seed_tag="scale", partitions=128).write.mode(
            "overwrite"
        ).parquet(path)
        spark.stop()
    return path


def run_once(pkg: str, input_path: str, cpus: int, out: str, iterations: int) -> float:
    cmd = [
        SPARK_SUBMIT,
        "--master",
        f"local[{cpus}]",
        "--conf",
        f"spark.sql.shuffle.partitions={cpus * 2}",
        "--conf",
        "spark.sql.adaptive.enabled=true",
        "--conf",
        "spark.ui.enabled=false",
        "--conf",
        "spark.driver.memory=24g",
        "--py-files",
        pkg,
        str(REPO / "scripts" / "extract_job.py"),
        "--input",
        input_path,
        "--output",
        out,
        "--partitions",
        str(cpus * 2),
        "--sink",
        "noop",
        "--warmup",
        "--iterations",
        str(iterations),
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, check=True)
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)["wall_sec"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=64000)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--iterations", type=int, default=3)
    ap.add_argument("--levels", type=int, nargs=2, default=[2, 8])
    args = ap.parse_args()

    pkg = build_pkg()
    input_path = gen_input(args.docs)
    lo, hi = args.levels
    results: dict[int, list[float]] = {lo: [], hi: []}
    for trial in range(args.trials):
        for cpus in (lo, hi):
            wall = run_once(
                pkg, input_path, cpus, f"/tmp/scaling_out_{cpus}", args.iterations
            )
            results[cpus].append(wall)
            print(f"trial {trial} local[{cpus}]: {wall:.2f}s", flush=True)

    best = {c: min(w) for c, w in results.items()}
    thr = {c: args.docs / best[c] for c in best}
    eff = (thr[hi] / thr[lo]) / (hi / lo)
    payload = {
        "docs": args.docs,
        "trials": results,
        "best_wall_sec": best,
        "docs_per_sec": {c: round(t, 2) for c, t in thr.items()},
        "scaling_efficiency": round(eff, 3),
        "levels": [lo, hi],
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    (bench_dir / "scaling.json").write_text(json.dumps(payload, indent=2))
    verdict = "MET" if eff >= 0.8 else "MISSED"
    all_trials = json.dumps(
        {str(k): [round(x, 2) for x in v] for k, v in results.items()}
    )
    (bench_dir / "BASELINE.md").write_text(
        f"""# BENCH/BASELINE.md — throughput & scaling evidence

North-rule metric: documents/sec (pages extracted with exact
span-sequence match — correctness enforced by tests/test_e2e_extraction
on the same pipeline) and >=0.8 throughput-scaling efficiency between two
cluster sizes.  Sandbox evidence: the identical spark-submit job
(`scripts/extract_job.py`, packaged `--py-files`) on the identical
{args.docs}-doc synthetic corpus at local[{lo}] and local[{hi}]
(stand-in for N vs {hi // lo}N executors); best of {args.trials} trials
x {args.iterations} timed in-session iterations per level.

| parallelism | best wall (s) | docs/sec |
|---|---|---|
| local[{lo}] | {best[lo]:.2f} | {thr[lo]:.1f} |
| local[{hi}] | {best[hi]:.2f} | {thr[hi]:.1f} |

**Scaling efficiency** = (thr_{hi}/thr_{lo}) / ({hi}/{lo}) =
**{eff:.3f}** (target >= 0.8: {verdict}).

All trials (s): {all_trials}

Reproduce: `python scripts/scaling_bench.py --docs {args.docs} \
--trials {args.trials} --levels {lo} {hi}`

## Measurement notes (single-box stand-in caveats)

- Each trial's wall is the best of {args.iterations} timed in-session
  passes after a full warmup pass: steady state is the regime a
  production job lives in, and this sandbox VM shows bursty CPU-steal
  noise (same binary varies run-to-run), which only ever slows a run —
  best-of measures capability.
- Both levels share ONE memory subsystem on this box, unlike a real
  N-vs-{hi // lo}N cluster where every added node brings its own memory
  channels, shuffle disks, and Python workers.  The single-box
  measurement is therefore a conservative lower bound on cluster
  scaling for the memory-bound phases.
- Level pair local[{lo}]/local[{hi}] leaves headroom on the
  32-hardware-thread VM for Spark's Python workers and the OS; levels
  that oversubscribe the whole box (e.g. local[32]) measure scheduler
  contention, not the engine.
- Correctness of the measured pipeline is enforced separately by exact
  span-sequence equality vs the pandas oracle
  (tests/test_e2e_extraction.py), including the article stage's
  edge-frame tests.
"""
    )
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
