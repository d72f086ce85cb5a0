"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,build} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The program under test is the
``movie_recommendation_etl_spark`` package in that root; the benchmark
imports it from source and never modifies it. Everything the run writes
goes under ``.perfbench_work/`` in the root: seeded inputs (cached per
seed), serve's index (cached per program version), a fresh
``SPARK_LOCAL_DIRS``, outputs, and the span dump of a traced run.

A run: prepare inputs (excluded from metrics; serve's index, when there
is none for this program version, is built first in a JVM of its own) ->
set up three times (fresh SparkContext + workload load; median reported
as ``setup_s``) -> warm up -> measure ops for ``--seconds`` (at least one
op) -> check every op's outputs -> print one JSON line. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics from traced ops and the tracing overhead against untraced ops
(serve: traced and untraced requests alternate; build: an untraced job
first, then the traced job, each the first pass in a fresh JVM).
Metric definitions: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd().resolve()
sys.path.insert(0, str(HERE))

from workloads import PACKAGE, dir_bytes  # noqa: E402

# Spark task slots. The host has 4 cores; the 4th is left to the JVM's JIT
# and GC threads and the driver's Python, which on a fresh JVM otherwise
# compete with the tasks (measured: same median pass time at 3 slots,
# run-to-run spread 0.10 vs 0.15 at 4).
CPUS = 3
# Driver heap, far below the host's 15 GB, committed and touched at JVM
# start (-Xms = -Xmx, AlwaysPreTouch): otherwise RSS records when G1
# happened to grow the heap (run-to-run spread 0.26-0.37), not what the
# program keeps off-heap and in Python.
DRIVER_MEM = "2g"
# Set-up is repeated and the median reported; the first repetition is
# cold (JIT, first reads), the rest are not.
SETUP_REPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: build serve's index in this process's own JVM and exit
    ap.add_argument("--build-index", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# resources: RSS of this process tree and peak local-dir size
# --------------------------------------------------------------------------


def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as fh:
                rss[int(d)] = int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


def _cpu_times() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_times`` readings (steal is the 8th field)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


class Sampler(threading.Thread):
    """Samples tree RSS and SPARK_LOCAL_DIRS size until stopped."""

    def __init__(self, local_dir: Path, period: float = 0.5):
        super().__init__(daemon=True)
        self.local_dir, self.period = local_dir, period
        self.rss_kb: list[int] = []
        self.peak_disk = 0
        self._stop_evt = threading.Event()

    def run(self):
        pid = os.getpid()
        while not self._stop_evt.is_set():
            self.rss_kb.append(_tree_rss_kb(pid))
            self.peak_disk = max(self.peak_disk, dir_bytes(self.local_dir))
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=10)


# --------------------------------------------------------------------------
# Spark session lifecycle
# --------------------------------------------------------------------------


def spark_conf(run_dir: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"
        ),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if trace:
        (run_dir / "events").mkdir(exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = (run_dir / "events").as_uri()
    return conf


def stop_spark() -> None:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


def shutdown_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    stop_spark()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


class Ctx:
    def __init__(self, root: Path, run_dir: Path, seed: int, tracer):
        self.root, self.work = root, root / ".perfbench_work"
        self.run_dir, self.seed, self.tracer = run_dir, seed, tracer


def pct(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    local = run_dir / "local"
    for d in (local, run_dir / "tmp", run_dir / "out"):
        d.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(min(CPUS, os.cpu_count() or CPUS)),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(local),
        TMPDIR=str(run_dir / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.environ.pop("SPARK_MASTER", None)

    tracer = Tracer(False)
    ctx = Ctx(ROOT, run_dir, args.seed, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    if args.build_index:
        try:
            build_index(wl, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        return 0
    try:
        if hasattr(wl, "index_ready") and not wl.index_ready():
            log("building the serve index in its own JVM")
            subprocess.run(
                [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", "0", "--build-index"],
                check=True, stdout=sys.stderr, timeout=600,
            )
        sampler = Sampler(local)
        sampler.start()
        cpu0 = _cpu_times()
        try:
            result = run(args, ctx, wl)
        finally:
            shutdown_jvm()
            sampler.stop()
        # a noisy host is the main source of run-to-run spread: log it
        log(f"hypervisor steal {steal_share(cpu0, _cpu_times()):.1%} of CPU time")
        if args.trace:
            tracer.add_event_log(run_dir / "events")
            tracer.dump(work / f"trace-{args.workload}-{args.seed}.json")
            result["metrics"] = layer_metrics(tracer, result.pop("_layer"), sampler)
        else:
            # the median sample, not the peak: build's partitioned writes
            # spike native memory in some runs only (3.3 GB vs 5.9 GB), a
            # spread no bound can hold; the peak is a per-layer metric
            result["metrics"]["rss_mb"] = {
                "value": statistics.median(sampler.rss_kb) / 1024, "unit": "MB"}
            del result["_layer"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def build_index(wl, run_dir: Path) -> None:
    from movie_recommendation_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=spark_conf(run_dir, False))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl.build_index(spark)
    finally:
        shutdown_jvm()
    log(f"serve index built in {time.perf_counter() - t0:.1f}s")


def log(msg: str) -> None:
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def run(args, ctx, wl) -> dict:
    from movie_recommendation_etl_spark.session import get_spark
    from workloads import TOP_K

    tracer = ctx.tracer
    traced_conf = spark_conf(ctx.run_dir, bool(args.trace))
    # A traced build run compares its traced job with an untraced job it
    # runs first, in its own fresh JVM without the event log: both are
    # first passes (that doubles the run's length).
    twin = bool(args.trace) and wl.batch
    conf = spark_conf(ctx.run_dir, False) if twin else traced_conf
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    jvm_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    log(f"jvm up in {jvm_start_s:.1f}s")
    wl.prepare(spark)
    log("inputs ready")

    def fresh_setup(conf, traced):
        stop_spark()
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        tracer.enabled = traced
        wl.setup(spark)
        tracer.enabled = False
        return time.perf_counter() - t0, t1 - t0

    # --- set-up, repeated on fresh SparkContexts in the same JVM (the
    # traced run reports no setup_s, so it sets up once)
    reps = [fresh_setup(conf, bool(args.trace) and not twin)
            for _ in range(1 if args.trace else SETUP_REPS)]
    setup_s = [r[0] for r in reps]
    get_spark_s = [r[1] for r in reps]
    log(f"setup {[round(x, 2) for x in setup_s]}")

    attempted = failed = 0

    def do_op(i):
        nonlocal attempted, failed
        attempted += 1
        t0 = time.perf_counter()
        try:
            res = wl.op(i)
        except Exception:
            failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        wl.record(res)
        return dt

    # --- warm-up: nothing from it is measured or checked
    t0 = time.perf_counter()
    i = wl.warmup()
    log(f"warm-up {time.perf_counter() - t0:.1f}s, {i} ops")

    def loop(seconds, traced):
        """Ops for ``seconds`` (at least one that succeeds); the k-th op
        of the loop is traced if ``traced(k)``. Returns the untraced and
        the traced op times and the wall time."""
        nonlocal i
        lats = {False: [], True: []}
        start = time.perf_counter()
        k = 0
        while not (lats[False] or lats[True]) or time.perf_counter() - start < seconds:
            on = traced(k)
            tracer.enabled = on
            tracer.op = i
            with tracer.span(f"{wl.name}.op"):
                dt = do_op(i)
            tracer.enabled = False
            i += 1
            k += 1
            if dt is not None:
                lats[on].append(dt)
            elif not (lats[False] or lats[True]) and failed > 5:
                raise RuntimeError("every measured op failed")
        return lats[False], lats[True], time.perf_counter() - start

    traced_lats = []
    if twin:
        lats, _, wall = loop(args.seconds, lambda k: False)
        shutdown_jvm()
        fresh_setup(traced_conf, True)
        _, traced_lats, _ = loop(args.seconds, lambda k: True)
    elif args.trace:
        # alternate, so traced and untraced requests see the same JIT state
        lats, traced_lats, wall = loop(args.seconds, lambda k: k % 2 == 1)
    else:
        lats, _, wall = loop(args.seconds, lambda k: False)
    log(f"measured {len(lats)} ops: {[round(x, 3) for x in lats]} "
        f"traced {[round(x, 3) for x in traced_lats]}")

    # --- output checks, outside the timed region
    checks = {"n": 0, "failed": 0}

    def report(name, ok):
        checks["n"] += 1
        if not ok:
            checks["failed"] += 1
            print(f"perfbench: check failed: {name}", file=sys.stderr)

    try:
        quality = wl.check(report)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        checks["n"] += 1
        checks["failed"] += 1
        quality = {}
    attempted += checks["n"]
    failed += checks["failed"]

    ops = len(lats)
    docs_per_op = wl.docs_in if wl.batch else TOP_K
    m = {
        "setup_s": (statistics.median(setup_s), "s"),
        "latency_p50_ms": (1000 * pct(lats, 50), "ms"),
        # the highest percentile with several of a serve run's ~30
        # requests beyond it (p90 would rest on ~3)
        "latency_p75_ms": (1000 * pct(lats, 75), "ms"),
        "ops_per_s": (ops / wall, "1/s"),
        "docs_per_s": (ops * docs_per_op / wall, "docs/s"),
        # not applicable on a workload -> 1.0 (see README.md)
        "recall_at_10": (quality.get("recall_at_10", 1.0), "ratio"),
        "franchise_hit_at_10": (quality.get("franchise_hit_at_10", 1.0), "ratio"),
        "bytes_out_per_byte_in": (quality.get("bytes_out_per_byte_in", 1.0), "ratio"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
    }
    layer = {
        "session.jvm_start_s": jvm_start_s,
        "session.get_spark_s": statistics.median(get_spark_s),
        "untraced_op_s": statistics.median(lats),
        "traced_op_s": statistics.median(traced_lats) if traced_lats else float("nan"),
        "workload.repeat_frac": _repeat_frac(wl.queries[:i]) if not wl.batch else 0.0,
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        "_layer": layer,
    }


def _repeat_frac(qs) -> float:
    seen, rep = set(), 0
    for q in qs:
        rep += q in seen
        seen.add(q)
    return rep / len(qs) if qs else 0.0


# --------------------------------------------------------------------------
# per-layer metrics from the traced ops
# --------------------------------------------------------------------------

# (metric, unit, span name, what): what = "s"/"ms" -> median duration of
# that span per traced op (0 when the workload never calls the layer);
# otherwise the name of a counter noted on that span.
SPAN_METRICS = [
    ("ml.ann.recommend.call_ms", "ms", "ml.ann.recommend.call", "ms"),
    ("ml.ann.recommend.collect_ms", "ms", "ml.ann.recommend.collect", "ms"),
    ("sources.writers.load_ann_index_s", "s", "sources.writers.load_ann_index", "s"),
    ("ml.ann.prepare_index_s", "s", "ml.ann.prepare_index", "s"),
    ("sources.readers.load_movies_csv_s", "s", "sources.readers.load_movies_csv", "s"),
    ("pipeline.clean_s", "s", "pipeline.clean", "s"),
    ("pipeline.clean.rows_out", "count", "pipeline.clean", "rows_out"),
    ("pipeline.combine_features_s", "s", "pipeline.combine_features", "s"),
    ("pipeline.build_features_s", "s", "pipeline.build_features", "s"),
    ("ml.lemmas.induce_lemma_map_s", "s", "ml.lemmas.induce_lemma_map", "s"),
    ("ml.tfidf.fit_s", "s", "ml.tfidf.fit", "s"),
    ("ml.tfidf.materialize_s", "s", "ml.tfidf.materialize", "s"),
    ("ml.tfidf.vocab_size", "count", "ml.tfidf.fit", "vocab_size"),
    ("ml.ann.fit_lsh_s", "s", "ml.ann.fit_lsh", "s"),
    ("sources.writers.save_outputs_s", "s", "sources.writers.save_outputs", "s"),
    ("sources.writers.save_ann_index_s", "s", "sources.writers.save_ann_index", "s"),
    ("sources.writers.bytes_written_mb", "MB", "build.op", "bytes_written_mb"),
    ("ml.ann.batch_ann_s", "s", "ml.ann.batch_ann", "s"),
    ("ml.ann.batch_ann.fill_ratio", "ratio", "ml.ann.batch_ann", "fill_ratio"),
]


def layer_metrics(tracer, layer: dict, sampler) -> dict:
    out: dict[str, tuple[float, str]] = {}
    for key, unit in (("session.jvm_start_s", "s"), ("session.get_spark_s", "s"),
                      ("workload.repeat_frac", "ratio")):
        out[key] = (layer[key], unit)
    op_spans = [s for s in tracer.spans if s["name"].endswith(".op")]
    n_ops = max(1, len(op_spans))
    for metric, unit, name, what in SPAN_METRICS:
        spans = tracer.by_name(name)
        if what in ("s", "ms"):
            durs = [s["end"] - s["start"] for s in spans]
            v = statistics.median(durs) if durs else 0.0
            out[metric] = (v * (1000 if what == "ms" else 1), unit)
        else:
            vals = [s[what] for s in spans if what in s]
            out[metric] = (float(statistics.median(vals)) if vals else 0.0, unit)
    rec = [(c, k) for c, k in zip(tracer.by_name("ml.ann.recommend.call"),
                                  tracer.by_name("ml.ann.recommend.collect"))]
    out["ml.ann.recommend.spark_jobs"] = (
        statistics.median([c["jobs"] + k["jobs"] for c, k in rec]) if rec else 0.0, "count")
    out["ml.ann.recommend.spark_tasks"] = (
        statistics.median([c["tasks"] + k["tasks"] for c, k in rec]) if rec else 0.0, "count")
    for metric, key, scale, unit in (
        ("spark.jobs", "jobs", 1, "count"),
        ("spark.tasks", "tasks", 1, "count"),
        ("spark.failed_tasks", "failed_tasks", 1, "count"),
        ("spark.shuffle_write_mb", "shuffle_write_bytes", 2**-20, "MB"),
        ("spark.spill_mb", "spill_bytes", 2**-20, "MB"),
    ):
        total = sum(tracer.subtree_total(s, key) for s in op_spans)
        out[metric] = (total * scale / n_ops, unit)
    out["disk.local_peak_mb"] = (sampler.peak_disk / 2**20, "MB")
    out["mem.peak_rss_mb"] = (max(sampler.rss_kb) / 1024, "MB")
    selfs = tracer.self_times()
    cover = [1 - selfs[s["id"]] / (s["end"] - s["start"]) for s in op_spans]
    out["trace.layer_coverage"] = (statistics.median(cover) if cover else 0.0, "ratio")
    out["trace.overhead_frac"] = (layer["traced_op_s"] / layer["untraced_op_s"] - 1, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
