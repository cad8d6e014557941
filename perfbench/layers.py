"""Per-layer metrics of a traced run.

Layers are the repository's modules. Span times come from the wrappers in
spans.py; Spark, Arrow/Python-worker and sink numbers come from folding the
run's event log (spans.fold); kernel rates come from in-process
microbenches over a fixed batch of the workload's own rows.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

import spans
from stats import cycle_median, percentile

# layers that own spans; "unattributed" is the root span's self time
SPAN_LAYERS = ("pipeline", "sortblocks", "qttree", "extract", "update", "curation", "metrics")
KERNEL_BATCH = 8192
MICROBENCH_MIN_S = 0.2


def _rate(fn, rows: int) -> float:
    """Rows per second of ``fn()`` on one core, best of repeated calls
    (at least MICROBENCH_MIN_S in total)."""
    fn()
    best, spent = float("inf"), 0.0
    while spent < MICROBENCH_MIN_S:
        t = time.perf_counter()
        fn()
        dt = time.perf_counter() - t
        best, spent = min(best, dt), spent + dt
    return rows / best


def kernel_rates(seed: int) -> dict:
    """rows/s of the four kernels on a fixed batch of generated rows: image
    footprints for the quadtree kernels, document texts for the text ones
    (polyhash64 over their word 3-grams, the Bloom path's unit)."""
    import pandas as pd

    import gen
    from osmquadtree_spark.kernels import quadtree as qtk
    from osmquadtree_spark.kernels.strhash import polyhash64
    from osmquadtree_spark.kernels.wordcodes import word_codes
    from osmquadtree_spark.plans.qttree import assign_groups

    phash = gen.image_layout(seed)["phash"][:KERNEL_BATCH]
    fp = gen.image_footprints(phash)
    qt = qtk.calculate(*fp)
    gqt = np.unique(qtk.round_qt(qt, 6))
    texts = gen.doc_texts(seed, KERNEL_BATCH)
    series = pd.Series(texts.tolist())
    grams = []
    for t in texts[:1024]:
        w = t.split(" ")
        grams += [" ".join(w[i:i + 3]) for i in range(len(w) - 2)]
    return {
        "kernels.quadtree.calculate.rows_per_s": _rate(lambda: qtk.calculate(*fp), len(qt)),
        "qttree.assign_groups.rows_per_s": _rate(lambda: assign_groups(qt, gqt), len(qt)),
        "kernels.wordcodes.rows_per_s": _rate(lambda: word_codes(series), len(series)),
        "kernels.strhash.polyhash64.rows_per_s": _rate(lambda: polyhash64(grams), len(grams)),
        "_grams_per_doc": len(grams) / 1024,
    }


# span name -> (kernel rate key, kernel rows per Python-worker row)
SPAN_KERNEL = {
    "pipeline.stage_qts": ("kernels.quadtree.calculate.rows_per_s", 1.0),
    "sortblocks.write_tile_sorted": ("qttree.assign_groups.rows_per_s", 1.0),
    "op.update": ("qttree.assign_groups.rows_per_s", 1.0),
    "curation.stage_dedup": ("kernels.wordcodes.rows_per_s", 1.0),
    "curation.stage_decon": ("kernels.strhash.polyhash64.rows_per_s", None),
    "curation.stage_weights": ("kernels.strhash.polyhash64.rows_per_s", None),
}


def _committed_metric(out_dir: str, operator: str, metric: str, key: str = "") -> float:
    """A value from the run's committed metrics table (last run id)."""
    import pyarrow.parquet as pq

    runs = sorted(glob.glob(os.path.join(out_dir, "metrics", "run_id=*")), key=os.path.getmtime)
    if not runs:
        return 0.0
    t = pq.read_table(runs[-1]).to_pydict()
    for op, m, k, v in zip(t["operator"], t["metric"], t["bucket_key"], t["value"]):
        if op == operator and m == metric and (k or "") == key:
            return float(v)
    return 0.0


def per_layer(ctx, wl, eventlog_dir: str, cold, warm, ref: dict) -> dict:
    tr = ctx.tracer
    log = glob.glob(os.path.join(eventlog_dir, "*"))
    folded = spans.fold(log[0])
    by_span = folded["spans"]
    root = tr.spans[0]
    ids = {str(s.id) for s in tr.spans}

    def span_tot(names=None) -> dict:
        out: dict = {}
        for s in tr.spans:
            if names is None or s.name in names:
                for k, v in by_span.get(str(s.id), {}).items():
                    out[k] = max(out.get(k, 0), v) if k.startswith(("peak", "_longest", "task_skew")) else out.get(k, 0) + v
        return out

    def span_s(name: str) -> float:
        return sum(s.dur for s in tr.by_name(name))

    m: dict[str, tuple[float, str]] = {}
    win = span_tot()
    skew = max(
        (v for k, v in by_span.items() if k in ids),
        key=lambda t: t.get("_longest_stage_s", 0), default={},
    ).get("task_skew", 1.0)

    # self times reconcile with the traced wall by construction
    self_t = {layer: 0.0 for layer in SPAN_LAYERS}
    unattributed = 0.0
    for s in tr.spans:
        if s.layer == "unattributed":
            unattributed += s.self_time()
        else:
            self_t[s.layer] += s.self_time()
    for layer, v in self_t.items():
        m[f"self.{layer}.s"] = (v, "s")
    m["unattributed.s"] = (unattributed, "s")
    m["trace.wall_s"] = (root.dur, "s")
    if abs(sum(self_t.values()) + unattributed - root.dur) > 1e-6 * max(root.dur, 1.0):
        ctx.failures.append("layer self times do not reconcile with the traced wall time")

    for st in ("stage_qts", "stage_groups", "stage_tiles"):
        m[f"pipeline.{st}.s"] = (span_s(f"pipeline.{st}"), "s")
    wts = span_tot({"sortblocks.write_tile_sorted"})
    m["sortblocks.compute_groups.s"] = (span_s("sortblocks.compute_groups"), "s")
    m["sortblocks.write_tile_sorted.s"] = (span_s("sortblocks.write_tile_sorted"), "s")
    m["sortblocks.write_tile_sorted.spark_jobs"] = (wts.get("jobs", 0), "count")
    m["sortblocks.write_tile_sorted.bytes_read"] = (wts.get("readback_bytes_read", 0), "B")
    m["qttree.build.s"] = (span_s("qttree.build"), "s")
    m["qttree.find_groups.s"] = (span_s("qttree.find_groups"), "s")
    m["qttree.groups"] = (tr.counters["qttree.groups"], "count")

    rates = kernel_rates(ctx.seed)
    grams_per_doc = rates.pop("_grams_per_doc")
    for k, v in rates.items():
        m[k] = (v, "rows/s")

    m["arrow.python_init_s"] = (win.get("python_start_s", 0) + win.get("python_init_s", 0), "s")
    m["arrow.python_run_s"] = (win.get("python_run_s", 0), "s")
    m["arrow.bytes_to_python"] = (win.get("bytes_to_python", 0), "B")
    m["arrow.bytes_from_python"] = (win.get("bytes_from_python", 0), "B")
    kernel_s = 0.0
    for name, (key, per_row) in SPAN_KERNEL.items():
        rows = span_tot({name}).get("python_rows", 0) * (per_row or grams_per_doc)
        kernel_s += rows / rates[key]
    m["arrow.kernel_s"] = (kernel_s, "s")
    m["arrow.tax_s"] = (win.get("python_run_s", 0) - kernel_s, "s")

    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("executor_run_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "B"),
                    ("shuffle_fetch_wait_s", "s"), ("spill_disk_bytes", "B"),
                    ("peak_execution_memory_bytes", "B")):
        m[f"spark.{k}"] = (win.get(k, 0), unit)
    m["spark.task_skew"] = (skew, "ratio")
    m["sink.bytes_written"] = (win.get("bytes_written", 0), "B")
    m["sink.files_written"] = (win.get("files_written", 0), "count")
    m["sink.bytes_read"] = (win.get("bytes_read", 0), "B")
    m["sink.records_read"] = (win.get("records_read", 0), "count")
    jobs = [(a, b) for sid, a, b in folded["jobs"] if sid in ids]
    clipped = [(max(a, root.t0), min(b, root.t1)) for a, b in jobs if b > root.t0 and a < root.t1]
    m["driver.busy_s"] = (root.dur - spans.union_length(clipped), "s")

    # per-op ratios over every extract/update span, the cold cycle's too;
    # latency percentiles over the warm requests only
    ext = getattr(wl, "latency", {}).get("extract", [])
    upd = getattr(wl, "latency", {}).get("update", [])
    n_ext = max(len(tr.by_name("op.extract")), 1)
    n_upd = max(len(tr.by_name("op.update")), 1)
    et = span_tot({"op.extract"})
    m["extract.prune_tiles.s"] = (span_s("extract.prune_tiles"), "s")
    n_tiles = len(getattr(wl, "gqt", ())) or 1
    m["extract.tiles_kept_ratio"] = (tr.counters["extract.tiles_kept"] / (n_tiles * n_ext), "ratio")
    m["extract.records_scanned_per_row_returned"] = (
        et.get("records_read", 0) / max(getattr(wl, "rows_returned", 0), 1), "ratio")
    m["extract.bytes_scanned_per_op"] = (et.get("bytes_read", 0) / n_ext, "B")
    m["extract.p50_s"] = (statistics.median(ext) if ext else 0.0, "s")
    m["extract.p90_s"] = (percentile(ext, 90) if ext else 0.0, "s")
    m["extract.samples"] = (len(ext), "count")
    ut = span_tot({"op.update"})
    m["update.p50_s"] = (statistics.median(upd) if upd else 0.0, "s")
    m["update.samples"] = (len(upd), "count")
    m["update.stored_records_scanned"] = (ut.get("records_read", 0) / n_upd, "count")
    m["update.assign_rows_per_change_row"] = (
        ut.get("python_rows", 0) / max(getattr(wl, "change_rows", 0), 1), "ratio")
    m["update.shuffle_bytes_per_op"] = (ut.get("shuffle_write_bytes", 0) / n_upd, "B")

    for st in ("quality", "dedup", "decon", "weights", "shards"):
        m[f"curation.stage_{st}.s"] = (span_s(f"curation.stage_{st}"), "s")
    # the last curation job's committed metrics table
    last = wl.jobs[-1][0] if wl.name == "curation" and wl.jobs else None
    cand = _committed_metric(last, "dedup_minhash", "candidate_pair_volume") if last else 0.0
    m["dedup.candidate_pairs"] = (cand, "count")
    m["dedup.pairs_kept_ratio"] = (tr.counters["dedup.pairs_kept"] / cand if cand else 0.0, "ratio")
    rounds = _committed_metric(last, "curation_components", "convergence", "rounds") if last else 0.0
    m["components.rounds"] = (rounds, "count")
    m["cache.checkpoint_releases"] = (tr.counters["cache.checkpoint_releases"], "count")
    m["metrics.commit_pending.s"] = (span_s("metrics.commit_pending"), "s")
    m["metrics.commit_errors"] = (tr.counters["metrics.commit_errors"], "count")

    m["ops.cold_s"] = (cold or 0.0, "s")
    m["ops.warm_samples"] = (len(warm), "count")
    traced_warm = cycle_median(warm, wl.cycle) if warm else 0.0
    m["trace.overhead_ratio"] = (traced_warm / ref["warm_s"] - 1.0, "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
