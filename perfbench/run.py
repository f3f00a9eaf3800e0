"""sparklead benchmark: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload pretok_batch --seed 1 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
written to parquet before any timing; the session runs at ``local[N]`` with
N = min(4, usable cores), in this one driver process.  With ``--trace 0``
the result carries the end-to-end metrics of BENCHMARK.json, measured with
tracing off; with ``--trace 1`` it carries the per-layer metrics, and the
spans go to ``.perfbench/spans-<workload>-<seed>.jsonl``.  The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; the exit code is
1 when an output check failed and 2 on a usage or environment error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import SparkRest, Tracer, self_s_by_name  # noqa: E402
from perfbench.workloads import WORKLOADS, OpResult  # noqa: E402

MAX_CORES = 4
# the first op in a fresh JVM runs at about half speed (JIT, codegen, class
# loading) and is not timed; the next ones still speed up by a few percent
# each, and single ops stall now and then on a shared host: the median of at
# least three timed ops is robust to both
WARMUP_OPS = 1
MIN_OPS = 3

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "ok_share": "ratio",
}

SPANS = (
    "session.start",
    "session.jvm_warmup",
    "session.worker_warmup",
    "pipeline.parse_enrich",
    "pipeline.token_vectors",
    "pipeline.run_pipeline",
    "pipeline.rollups",
    "routing.write_sink",
    "routing.resume",
    "streaming.stream_route",
    "sources.load",
    "enhancers.normalize",
    "enhancers.tokenize",
    "mining.drain_fit",
    "mining.drain_assign",
    "sequence.aggregate",
    "detectors.featurize",
    "detectors.train",
    "detectors.predict",
)

PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_warmup_s": "s",
    "session.worker_warmup_s": "s",
    "session.driver_peak_rss_mb": "MB",
    "pipeline.parse_enrich_s": "s",
    "pipeline.token_vectors_s": "s",
    "pipeline.rollups_s": "s",
    "pipeline.run_pipeline_s": "s",
    "pipeline.core_util": "ratio",
    "pipeline.shuffle_write_bytes": "bytes",
    "routing.write_s": "s",
    "routing.driver_tail_s": "s",
    "routing.bytes_written": "bytes",
    "routing.files_written": "count",
    "routing.resume_s": "s",
    "routing.resumed_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.files_per_batch": "count",
    "streaming.first_batch_ms": "ms",
    "sources.load_s": "s",
    "sources.seq_id_hit_ratio": "ratio",
    "enhancers.normalize_s": "s",
    "enhancers.tokenize_s": "s",
    "mining.drain_fit_s": "s",
    "mining.drain_assign_s": "s",
    "mining.templates": "count",
    "mining.match_ratio": "ratio",
    "sequence.aggregate_s": "s",
    "sequence.shuffle_write_bytes": "bytes",
    "sequence.spill_bytes": "bytes",
    "detectors.featurize_s": "s",
    "detectors.train_s": "s",
    "detectors.predict_s": "s",
    "detectors.jobs": "count",
    "bench.trace_overhead_s": "s",
} | {f"{s}_{k}": "s" for s in SPANS for k in ("self_s", "busy_s")}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


# ------------------------------------------------------------ session

def _stop_jvm(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _start_session(cores: int, tracer: Tracer | None):
    """One ready session: get_spark, a tiny JVM job, a tiny mapInPandas job."""
    from sparklead import get_spark

    t0 = time.time()
    spark = get_spark(
        "sparklead-bench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "2g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    spark.range(100).selectExpr("sum(id)").collect()
    t2 = time.time()
    spark.range(100).mapInPandas(lambda batches: batches, "id long").collect()
    t3 = time.time()
    if tracer is not None:
        for name, a, b in (("start", t0, t1), ("jvm_warmup", t1, t2), ("worker_warmup", t2, t3)):
            tracer.record(f"session.{name}", a, b, None)
    return spark, t3 - t0


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ------------------------------------------------------------ ops

class Ledger:
    """Attempted and failed ops of one run."""

    def __init__(self):
        self.attempted = self.failed = 0

    def attempt(self, fn, *args) -> OpResult:
        """Run one op; an op that raises counts as failed."""
        t0 = time.perf_counter()
        try:
            op = fn(*args)
        except Exception as e:  # one failed op must not hide the others
            traceback.print_exc()
            op = OpResult(0, time.perf_counter() - t0, [f"op raised {e!r}"])
        self.attempted += 1
        if op.failures:
            self.failed += 1
            for msg in op.failures:
                print(f"CHECK FAILED: {msg}", file=sys.stderr)
        return op


def _measure(wl, ledger: Ledger, out_root: str, seconds: float) -> list[OpResult]:
    """Closed loop of untraced ops until about ``seconds`` of op wall."""
    ops: list[OpResult] = []
    while True:
        out = os.path.join(out_root, f"op{len(ops)}")
        ops.append(ledger.attempt(wl.op, out))
        shutil.rmtree(out, ignore_errors=True)
        spent = sum(o.wall for o in ops)
        next_wall = statistics.median(o.wall for o in ops)
        if len(ops) >= MIN_OPS and spent + next_wall > seconds:
            return ops


def run(args) -> tuple[dict, Ledger]:
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    # hygiene: workers import sparklead from this checkout whatever the cwd;
    # Spark scratch and temp files stay under the per-run work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    ledger = Ledger()
    wl = WORKLOADS[args.workload](args.seed, work)
    spark = None
    try:
        wl.prepare()
        tracer = Tracer() if args.trace else None
        spark, setup_s = _start_session(cores, tracer)
        wl.bind(spark)
        out_root = os.path.join(work, "out")
        for i in range(WARMUP_OPS):
            ledger.attempt(wl.op, os.path.join(out_root, f"warmup{i}"))
            shutil.rmtree(os.path.join(out_root, f"warmup{i}"), ignore_errors=True)
        if not args.trace:
            ops = _measure(wl, ledger, out_root, args.seconds)
            print(
                f"{args.workload} seed={args.seed}: {len(ops)} ops, walls "
                + " ".join(f"{o.wall:.2f}" for o in ops)
                + f" s, setup {setup_s:.2f} s",
                file=sys.stderr,
            )
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": statistics.median(o.rows / o.wall for o in ops),
                "ok_share": 1.0 - ledger.failed / ledger.attempted,
            }
            return {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}, ledger
        base = ledger.attempt(wl.op, os.path.join(out_root, "untraced"))
        traced = ledger.attempt(wl.traced_op, os.path.join(out_root, "traced"), tracer)
        jobs = SparkRest(spark).settled()
        layer = wl.layer_metrics(traced, tracer, jobs, cores) if traced.traced else {}
        if set(layer) - set(PER_LAYER):
            raise KeyError(f"metrics missing from PER_LAYER: {sorted(set(layer) - set(PER_LAYER))}")
        metrics = dict.fromkeys(PER_LAYER, 0.0) | layer
        selfs = self_s_by_name(tracer.spans)
        for name in SPANS:
            metrics[f"{name}_self_s"] = selfs.get(name, 0.0)
            metrics[f"{name}_busy_s"] = jobs.busy_s(jobs.within(*tracer.named(name)))
        for name in ("start", "jvm_warmup", "worker_warmup"):
            metrics[f"session.{name}_s"] = tracer.named(f"session.{name}")[0].wall
        metrics["session.driver_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        metrics["bench.trace_overhead_s"] = tracer.named("bench.op")[0].wall - base.wall
        tracer.write(
            os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"),
            workload=args.workload,
            seed=args.seed,
        )
        print(
            f"{args.workload} seed={args.seed}: untraced {base.wall:.2f} s, "
            f"traced op {tracer.named('bench.op')[0].wall:.2f} s",
            file=sys.stderr,
        )
        return {k: {"value": float(metrics[k]), "unit": u} for k, u in PER_LAYER.items()}, ledger
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparklead", "pipeline.py")):
        print(f"sparklead sources not found under {ROOT}", file=sys.stderr)
        return 2
    metrics, ledger = run(args)
    correct = ledger.failed == 0
    print(json.dumps({"correct": correct, "attempted": ledger.attempted, "failed": ledger.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
