"""Workload benchmark for incremental KG construction and corpus dedup.

    python3 perfbench/run.py --workload kg_incremental_wide --seed 1 --seconds 5 --trace 0

Run from the repository root. One closed-loop caller repeats the workload's
operation until `--seconds` of operation time have passed, waiting for each
to commit before sending the next, and checks every output outside the
timed region. The last line of standard output is one JSON object:
end-to-end metrics with `--trace 0`, the per-layer ledger with `--trace 1`
(a traced run also writes the full layer table to perfbench/.out/).
Exit code 0 when every output check passed, 1 when one failed, 2 when the
engine cannot be imported.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# input materialisations per set-up; setup_s counts their median
SETUPS = 3

LAYERS = [
    "pipeline", "sources.store", "extract.distill", "extract.facts",
    "extract.quintuples", "functions.timeparse", "merge.kg", "merge.resolve",
    "merge.candidates", "merge.components", "dedup.ngram", "dedup.minhash",
    "corpus",
]
END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s"}
# generic layer metrics carried in the JSON line (the full table has more)
JSON_GENERIC = ["wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s",
                "shuffle_write_mb", "shuffle_read_mb"]
PY_LAYERS = ["pipeline", "extract.quintuples", "functions.timeparse",
             "merge.kg", "merge.resolve", "merge.components"]
SPECIFIC = [
    ("extract.quintuples.yield", "ratio"),
    ("functions.timeparse.fast_miss_frac", "ratio"),
    ("merge.resolve.items", "count"),
    ("merge.resolve.distributed", "bool"),
    ("merge.resolve.driver_items", "count"),
    ("merge.candidates.pairs_scored", "count"),
    ("merge.candidates.pairs_kept", "count"),
    ("merge.candidates.keep_ratio", "ratio"),
    ("merge.components.edges_in", "count"),
    ("merge.components.iterations", "count"),
    ("merge.kg.merge_ratio", "ratio"),
    ("sources.store.write_s", "s"),
    ("sources.store.load_s", "s"),
    ("sources.store.bytes_written", "B"),
    ("sources.store.bytes_per_edge", "B"),
    ("pipeline.jobs_per_batch", "count"),
    ("dedup.ngram.gram_rows", "count"),
    ("dedup.ngram.pair_rows", "count"),
    ("dedup.minhash.candidates", "count"),
    ("dedup.minhash.verified", "count"),
    ("dedup.minhash.precision", "ratio"),
    ("corpus.exact_dropped", "count"),
    ("corpus.near_dup_dropped", "count"),
    ("trace.coverage", "ratio"),
    ("trace.overhead_s", "s"),
]
_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "exec_run_s": "s",
          "exec_cpu_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
          "py_run_s": "s", "py_start_s": "s"}


def per_layer_names() -> list[tuple[str, str]]:
    out = [(f"{layer}.{m}", _UNITS[m]) for layer in LAYERS for m in JSON_GENERIC]
    out += [(f"{layer}.{m}", "s") for layer in PY_LAYERS
            for m in ("py_run_s", "py_start_s")]
    return out + SPECIFIC


# ------------------------------------------------------------ processes ---
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# ------------------------------------------------------------- sessions ---
def start_session(work: str, event_dir: str | None = None):
    from itext2kg_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # explicit: the session builder keeps options across sessions
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            # Spark 4.1 otherwise writes rolling zstd-compressed files
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(cores=len(os.sched_getaffinity(0)), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm():
    """Stop the py4j gateway and its JVM, then wait for every process this
    run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    procs = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


# ----------------------------------------------------------------- runs ---
class Run:
    def __init__(self, wl, seconds: float):
        self.wl, self.seconds = wl, seconds
        self.attempted = self.failed = 0
        self.walls: list[float] = []
        self.steps: list[list[float]] = []
        self.spark = None

    def fail(self, what: str):
        self.failed += 1
        print(f"[perfbench] FAILED {self.wl.name}: {what}", file=sys.stderr)

    def setup(self) -> float:
        """Set-up time: the session start and the median of SETUPS input
        materialisations. Repeating the session start would cost the JVM
        start again, which does not fit a run."""
        t0 = time.perf_counter()
        self.spark = start_session(self.wl.work)
        session = time.perf_counter() - t0
        mats = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            self.wl.materialise(self.spark)
            mats.append(time.perf_counter() - t0)
        return session + statistics.median(mats)

    def one_op(self):
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            steps, artefact = self.wl.op(self.spark)
            wall = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed operation is a result
            self.fail(traceback.format_exc())
            return None
        bad = self.wl.check(self.spark, artefact)
        if bad:
            self.fail("; ".join(bad))
        self.wl.reset(artefact)
        self.walls.append(wall)
        self.steps.append(steps)
        return wall

    def measure(self):
        """Closed loop until `seconds` of operation time have passed."""
        spent = 0.0
        while spent < self.seconds:
            wall = self.one_op()
            if wall is None:
                break
            spent += wall


def end_to_end(run: Run, setup_s: float) -> dict:
    """Means over the measured window. Its first operation is the JVM's
    first of its kind (cold), as in a job submitted per batch; cold
    operations repeat across runs more closely than warm ones, whose speed
    depends on how far the JVM has warmed. The steps of an operation go to
    the log only: a single step spreads too much across runs to gate on."""
    wall = statistics.fmean(run.walls)
    values = {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": run.wl.n_docs / wall,
    }
    return {k: (values[k], unit) for k, unit in END_TO_END.items()}


def traced(run: Run, out_dir: str) -> dict:
    """Traced run: a session with the event log on runs the layer-by-layer
    pass first, cold like the window of an untraced run, then one real
    operation (span `pipeline`). For the overhead, the same operation runs
    again in a new untraced session on the same JVM (the later of the two,
    so the JVM's own warming counts against tracing)."""
    from ledger import Spans, coverage, reduce_event_log

    wl = run.wl
    wl.oracle()
    event_dir = os.path.join(wl.work, "events")
    run.spark = spark = start_session(wl.work, event_dir)
    event_log = os.path.join(event_dir, spark.sparkContext.applicationId)
    wl.materialise(spark)
    spans = Spans()
    run.attempted += 1
    t0 = time.time() * 1000.0
    rec = wl.traced_pass(spark, spans)
    t1 = time.time() * 1000.0
    run.attempted += 1
    with spans.span("pipeline", root=True):
        _, artefact = wl.op(spark)
    traced_wall = (spans.spans[-1]["end"] - spans.spans[-1]["start"]) / 1000.0
    for bad in wl.check(spark, artefact):
        run.fail("traced op: " + bad)
    wl.reset(artefact)
    spans = list(spans.spans)
    counts = wl.probe(spark, rec, spans)
    for bad in wl.traced_check(spark, rec):
        run.fail("traced pass: " + bad)
    spark.stop()  # flushes the event log
    run.spark = spark = start_session(wl.work)
    wl.materialise(spark)
    untraced = run.one_op()
    table = reduce_event_log(event_log, spans, LAYERS)
    wl.post_reduce(counts, table, rec)
    counts["pipeline.jobs_per_batch"] = table["pipeline"]["jobs"] / wl.batches_per_op
    counts["trace.coverage"] = coverage(spans, t0, t1)
    counts["trace.overhead_s"] = traced_wall - untraced if untraced else 0.0

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{wl.seed}-layers.json"), "w") as f:
        json.dump({"layers": table, "counts": counts,
                   "untraced_wall_s": untraced, "traced_wall_s": traced_wall,
                   "pass_wall_s": (t1 - t0) / 1000.0}, f, indent=1, sort_keys=True)
    print(f"[perfbench] layer table ({wl.name}):", file=sys.stderr)
    for layer, row in table.items():
        print(f"  {layer:22s} " + " ".join(
            f"{k}={v:.3g}" for k, v in row.items()), file=sys.stderr)

    metrics = {}
    for name, unit in per_layer_names():
        layer, metric = name.rsplit(".", 1)
        if name in counts:
            metrics[name] = (counts[name], unit)
        else:
            metrics[name] = (table.get(layer, {}).get(metric, 0.0), unit)
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import itext2kg_spark.pipeline  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"[perfbench] cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # keep every temporary file of this run, and of the JVM it starts, here
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "local")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    wl = WORKLOADS[args.workload](args.seed, work)
    run = Run(wl, args.seconds)
    try:
        wl.generate()
        if args.trace:
            metrics = traced(run, os.path.join(HERE, ".out"))
        else:
            setup_s = run.setup()
            wl.oracle()
            run.measure()
            print(f"[perfbench] setup {setup_s} walls {run.walls} "
                  f"steps {run.steps}", file=sys.stderr)
            if not run.walls:
                return 1
            metrics = end_to_end(run, setup_s)
        run.spark.stop()
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
