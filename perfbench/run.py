#!/usr/bin/env python3
"""The repository benchmark: tile_build, tile_serve and curation workloads.

    python3 perfbench/run.py --workload tile_build --seed 1 --seconds 8 --trace 0

Run from the repository root. Each run is one process, one closed-loop
client and one ``local[N]`` SparkSession (N = min(2, cores), 1 GiB driver
heap) owned by this file. Inputs are generated from ``--seed`` (see gen.py)
and cached under ``.perfbench/cache``; run outputs go to ``.perfbench/runs``
and are deleted at exit. Every output check runs outside the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` first runs the
untraced command of the same seed as a subprocess (the reference for
``trace.overhead_ratio``), then installs span wrappers (spans.py), writes an
uncompressed event log, and prints the per-layer metrics of the same seed
and inputs. The last stdout line is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; a human summary goes to stderr. The
exit code is 0 only when every check passed.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# a run never measures longer than this, whatever the sample minimums say
MAX_WINDOW_S = 90.0
# Two task slots: on a shared 4-core host, runs at local[4] slowed by ~16%
# when one other process kept a core busy, runs at local[2] by ~1%, while
# their repeat jobs took the same time on an idle host.
CORES = min(2, len(os.sched_getaffinity(0)))
# a traced run first runs its untraced reference; both must fit in 180 s
REFERENCE_TIMEOUT_S = 100.0

E2E = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "slow_op_s": "s",
    "peak_rss_mb": "MB",
}


# -- process tree memory ---------------------------------------------------------


class RssMonitor(threading.Thread):
    """Polls the resident memory of this process and all its descendants (the
    JVM and the Python workers) and keeps the peak. Each process counts its
    proportional set size, so pages the forked Python workers share with
    their daemon are counted once, not once per worker."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            todo += children.get(p, [])
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(x.split()[1]) for x in f if x.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=10)


# -- session ----------------------------------------------------------------------


def build_spark(run_dir: str, eventlog_dir: str | None = None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + eventlog_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_batches(batches):
    import osmquadtree_spark.operators.dedup  # noqa: F401
    import osmquadtree_spark.operators.images  # noqa: F401
    import osmquadtree_spark.operators.sortblocks  # noqa: F401

    yield from batches


def warm_workers(spark) -> None:
    """Start one Python worker per core and import the package in it."""
    spark.range(0, CORES * 4, 1, CORES).mapInPandas(_warm_batches, "id bigint").collect()


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- workloads ----------------------------------------------------------------------


class Ctx:
    """State of one run that the workloads share."""

    def __init__(self, args, run_dir: str):
        self.seed = args.seed
        self.run_dir = run_dir
        self.cache = os.path.join(WORK, "cache")
        self.spark = None
        self.tracer = None
        self.failures: list[str] = []
        self.attempted = 0

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)


class TileBuild:
    """Cold run_image_tiling in a fresh session, then repeat jobs."""

    name = "tile_build"
    # repeats 1-3 still fall steeply (about 3.7 -> 2.8 s on 2 cores), later
    # ones stay within a few percent of each other
    warmup = 3
    min_warm = 5
    cycle = 1
    target, minsize = 200, 100

    def prepare(self, ctx):
        import gen

        self.path = gen.image_table(ctx.cache, ctx.seed)
        self.phash = gen.image_layout(ctx.seed)["phash"]
        self.n = len(self.phash)
        self.fp = gen.image_footprints(self.phash)
        self.jobs = []

    def setup(self, ctx) -> None:
        pass

    def op(self, ctx, k: int):
        from osmquadtree_spark import metrics, pipeline

        out = os.path.join(ctx.run_dir, f"tiles-{k}")
        t = time.perf_counter()
        m = pipeline.run_image_tiling(
            ctx.spark, ctx.spark.read.parquet(self.path), out,
            target=self.target, minsize=self.minsize,
        )
        metrics.commit_pending()
        lat = time.perf_counter() - t
        self.jobs.append((out, m))
        return lat

    def check(self, ctx) -> list[str]:
        import checks

        exp = checks.TileExpectation(self.fp, self.target, self.minsize)
        fail, prints = [], []
        for k, (out, m) in enumerate(self.jobs):
            # full row-level checks on the cold job and the last repeat,
            # manifest-level ones on the others
            if k in (0, len(self.jobs) - 1):
                f, p = checks.check_tile_job(out, m, exp, self.n)
                fail += [f"job {k}: {x}" for x in f]
                prints.append(p)
            if not checks.same_result(m, self.jobs[0][1]):
                fail.append(f"job {k}: manifests differ from the cold job's")
        if len(prints) == 2 and prints[0] != prints[1]:
            fail.append("cold and last warm job produced different tile tables")
        return fail


class TileServe:
    """Box extracts and change-set updates against one committed tile table,
    in a fixed mix of three extracts then one update. warm_s is the median
    time of one whole cycle of the mix, as cold_s is the first cycle's;
    slow_op_s is the median update latency."""

    name = "tile_serve"
    min_warm = 16
    MIX = ("extract", "extract", "extract", "update")
    cycle = len(MIX)
    # one cycle: request times still fall over the first cycles after the
    # cold one, updates most (about 1.45 -> 1.3 s)
    warmup = cycle

    def prepare(self, ctx):
        import gen
        import pyarrow.parquet as pq

        self.path = gen.image_table(ctx.cache, ctx.seed)
        layout = gen.image_layout(ctx.seed)
        self.n = len(layout["phash"])
        self.fp = gen.image_footprints(layout["phash"])
        self.boxes = gen.extract_boxes(ctx.seed, layout)
        self.changes = gen.change_sets(ctx.seed, self.fp, self.n)
        self.payload = pq.read_table(self.path, columns=["bytes"]).column("bytes").to_pylist()
        self.pending: list[tuple] = []
        self.latency = {"extract": [], "update": []}
        self.rows_returned = 0
        self.change_rows = 0

    def setup(self, ctx) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from osmquadtree_spark import pipeline

        out = os.path.join(ctx.run_dir, "serve")
        self.manifest = pipeline.run_image_tiling(
            ctx.spark, ctx.spark.read.parquet(self.path), out,
            target=TileBuild.target, minsize=TileBuild.minsize,
        )
        self.out = out
        self.gqt = pd.read_parquet(os.path.join(out, "groups", "groups.parquet"))[
            "group_qt"].to_numpy("int64")
        self.tiles = ctx.spark.read.parquet(os.path.join(out, "tiles", "data"))
        self.stored = self.tiles.select(
            F.lit(0).alias("element_type"),
            F.col("image_id").substr(4, 12).cast("bigint").alias("id"),
            "qt",
        )

    def op(self, ctx, k: int):
        """Operation 0 (cold) is one whole cycle of the mix, so it pays the
        first use of both code paths; later operations are single requests."""
        if k == 0:
            return sum(self._request(ctx, i) for i in range(self.cycle))
        return self._request(ctx, k - 1 + self.cycle)

    def _request(self, ctx, i: int) -> float:
        kind = self.MIX[i % self.cycle]
        with ctx.span(f"op.{kind}", kind):
            if kind == "extract":
                lat, item = self._extract(ctx, i)
            else:
                lat, item = self._update(ctx, i)
        if i >= self.cycle + self.warmup:
            self.latency[kind].append(lat)
        self.pending.append((kind,) + item)
        return lat

    def _extract(self, ctx, k):
        from pyspark.sql import functions as F

        from osmquadtree_spark.operators import extract

        box = self.boxes[k % len(self.boxes)]
        t = time.perf_counter()
        kept = extract.prune_tiles(self.gqt, box)
        rows = extract.box_filter(
            self.tiles.filter(F.col("group_qt").isin([int(q) for q in kept])), box
        ).select("image_id", "bytes").collect()
        lat = time.perf_counter() - t
        self.rows_returned += len(rows)
        return lat, (box, rows)

    def _update(self, ctx, k):
        import numpy as np
        import pandas as pd

        from osmquadtree_spark import cache
        from osmquadtree_spark.kernels import quadtree as qtk
        from osmquadtree_spark.operators import update

        cs = self.changes[(k // self.cycle) % len(self.changes)]
        t = time.perf_counter()
        new_qt = qtk.calculate(cs["minx"], cs["miny"], cs["maxx"], cs["maxy"])
        elements = ctx.spark.createDataFrame(pd.DataFrame({
            "element_type": np.zeros(len(new_qt), np.int64),
            "id": cs["id"],
            "qt": new_qt,
            "changetype": cs["changetype"],
        }))
        orig = update.change_allocs(self.stored, elements, self.gqt)
        rows = update.find_change_tiles(elements, orig, self.gqt).collect()
        cache.release_all()
        lat = time.perf_counter() - t
        self.change_rows += len(new_qt)
        return lat, (cs, new_qt, rows)

    def check(self, ctx) -> list[str]:
        import checks

        exp = checks.TileExpectation(self.fp, TileBuild.target, TileBuild.minsize)
        fail, _ = checks.check_tile_job(self.out, self.manifest, exp, self.n)
        fail = [f"served table: {x}" for x in fail]
        for kind, *item in self.pending:
            if kind == "extract":
                fail += checks.check_extract(item[1], item[0], exp, self.payload)
            else:
                fail += checks.check_update(item[2], item[0], item[1], exp)
        return fail


class Curation:
    """Cold run_curation in a fresh session, then repeat jobs."""

    name = "curation"
    warmup = 0
    min_warm = 1
    cycle = 1

    def prepare(self, ctx):
        import gen

        self.path = gen.doc_table(ctx.cache, ctx.seed)
        self.n = gen.N_DOCS
        self.planted = gen.planted_pairs(self.n)
        self.jobs = []

    def setup(self, ctx) -> None:
        pass

    def op(self, ctx, k: int):
        from osmquadtree_spark import curation, metrics

        out = os.path.join(ctx.run_dir, f"curation-{k}")
        t = time.perf_counter()
        m = curation.run_curation(ctx.spark, ctx.spark.read.parquet(self.path), out)
        commit = metrics.commit_pending()
        lat = time.perf_counter() - t
        self.jobs.append((out, m, commit))
        return lat

    def check(self, ctx) -> list[str]:
        import checks

        fail = []
        for k, (out, m, commit) in enumerate(self.jobs):
            fail += [f"job {k}: {x}" for x in checks.check_curation(out, m, self.n, self.planted)]
            if commit["errors"]:
                fail.append(f"job {k}: metrics commit errors {commit['errors']}")
            if not checks.same_result(m, self.jobs[0][1]):
                fail.append(f"job {k}: manifests differ from the cold job's")
        return fail


WORKLOADS = {w.name: w for w in (TileBuild, TileServe, Curation)}


# -- measurement ----------------------------------------------------------------------


def measure(ctx, wl, seconds: float) -> tuple[float, list[float], list[float]]:
    """Closed loop: the cold operation, the workload's warm-up repeats, then
    timed repeats until ``seconds`` have passed and the workload's minimum
    sample count is reached. Warm-up repeats run and are checked like the
    others but are not ``warm`` samples: a repeat job's time keeps falling
    for the first few repeats while the JVM compiles, and a median taken on
    that slope moves with every small shift of it. The loop stops only at
    the end of a cycle of the workload's operation mix, so every run holds
    the same share of each operation kind."""
    t0 = time.perf_counter()
    cold = None
    warmup: list[float] = []
    warm: list[float] = []
    k = 0
    while True:
        elapsed = time.perf_counter() - t0
        done = elapsed >= seconds and len(warm) >= wl.min_warm
        if k > wl.warmup and (k - 1 - wl.warmup) % wl.cycle == 0 and (
                done or elapsed >= MAX_WINDOW_S):
            break
        ctx.attempted += 1
        try:
            lat = wl.op(ctx, k)
        except Exception as ex:  # an operation that raises counts as failed
            ctx.failures.append(f"op {k}: {type(ex).__name__}: {ex}")
            if len(ctx.failures) >= 3:
                break
            lat = None
        if lat is not None:
            if k == 0:
                cold = lat
            elif k <= wl.warmup:
                warmup.append(lat)
            else:
                warm.append(lat)
        k += 1
    return cold, warmup, warm


def untraced_reference(args) -> dict:
    """End-to-end metrics of an untraced run of the same workload, seed and
    window, run as a subprocess of this invocation before the traced run,
    so the traced ``warm_s`` is always compared with the same code on the
    same inputs. Its own session, JVM and workers are gone when it returns."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    # its own process group, so a timeout also stops the JVM it started
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=REFERENCE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise RuntimeError(f"untraced reference run exceeded {REFERENCE_TIMEOUT_S:.0f} s")
    lines = out.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    if p.returncode != 0 or not res.get("correct"):
        raise RuntimeError(f"untraced reference run failed (exit {p.returncode})")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "osmquadtree_spark")):
        print("perfbench: osmquadtree_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    t_start = T_START
    ref = None
    if args.trace:
        try:
            ref = untraced_reference(args)
        except (RuntimeError, ValueError, KeyError) as ex:
            print(f"perfbench: {ex}", file=sys.stderr)
            return 1
        t_start = time.time()  # the traced run's own set-up starts here

    # everything a run writes besides the input cache and its result lives
    # here, temp files of Python, the JVM and Spark included
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{int(T_START)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(args, run_dir)
    mon = RssMonitor()
    mon.start()
    try:
        return _run(args, ctx, wl, mon, ref, t_start)
    finally:
        mon.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, ctx, wl, mon, ref, t_start: float) -> int:
    t = time.time()
    wl.prepare(ctx)
    gen_s = time.time() - t

    eventlog = os.path.join(ctx.run_dir, "eventlog") if args.trace else None
    phases = {"start": t - t_start}
    t = time.time()
    ctx.spark = build_spark(ctx.run_dir, eventlog)
    phases["session"] = time.time() - t
    t = time.time()
    warm_workers(ctx.spark)
    phases["workers"] = time.time() - t
    if args.trace:
        import spans

        ctx.tracer = spans.Tracer(ctx.spark.sparkContext)
        spans.install(ctx.tracer)
        root = ctx.tracer.begin("bench.traced", "unattributed")
    t = time.time()
    wl.setup(ctx)
    phases["workload"] = time.time() - t
    setup_s = time.time() - t_start - gen_s
    cold, warmup, warm = measure(ctx, wl, args.seconds)
    window_end = time.time()
    peak_kb = mon.peak_kb  # set-up and window, not the shutdown and checks

    if args.trace:
        ctx.tracer.end(root)
        ctx.tracer.uninstall()
        if ctx.tracer.observations:  # needs the live session
            ctx.tracer.counters["dedup.pairs_kept"] = ctx.tracer.observations[-1].get["pairs"]
    ctx.spark.stop()
    shutdown_jvm()
    mon.stop()

    try:
        ctx.failures += wl.check(ctx)
    except Exception as ex:  # a check that cannot run is a failed check
        ctx.failures.append(f"check raised {type(ex).__name__}: {ex}")
    if cold is None or not warm:
        ctx.failures.append("no successful timed operation")

    failed = min(len(ctx.failures), ctx.attempted)
    correct = not ctx.failures
    from stats import cycle_median, highest_supported

    e2e = {}
    if cold is not None and warm:
        e2e = {
            "setup_s": setup_s,
            "cold_s": cold,
            # per cycle of the operation mix: an extract alone (~0.2 s) slowed
            # by up to 75% while the shared host was busy, a whole cycle by 40%
            "warm_s": cycle_median(warm, wl.cycle),
            # median of the slowest operation kind; tile_build and curation
            # have one kind, so there it equals warm_s. A p90 of their five
            # or fewer repeats would be their slowest repeat, which moved by
            # a third between runs of the same code.
            "slow_op_s": max(statistics.median(v)
                             for v in getattr(wl, "latency", {wl.name: warm}).values() if v),
            "peak_rss_mb": peak_kb / 1024.0,
        }
    summary = {
        "workload": args.workload, "seed": args.seed, "gen_s": round(gen_s, 3),
        "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
        "cold": cold,
        "warmup": [round(x, 3) for x in warmup],
        "warm": [round(x, 3) for x in warm],
        # the highest percentile with at least 10 samples beyond it
        "supported_percentile": highest_supported(len(warm)),
        "window_s": round(window_end - t_start - setup_s - gen_s, 2),
        "failed_ratio": failed / max(ctx.attempted, 1),
    }
    for f in ctx.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    if args.trace:
        import layers

        metrics = layers.per_layer(ctx, wl, eventlog, cold, warm, ref)
    else:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    for k, v in metrics.items():
        print(f"  {k:48s} {v['value']:>14.6g} {v['unit']}", file=sys.stderr)
    print(f"  {'failed_ratio':48s} {summary['failed_ratio']:>14.6g} 1", file=sys.stderr)
    print("perfbench: " + json.dumps(summary), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
