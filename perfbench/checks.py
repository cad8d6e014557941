"""Output checks, run outside the timed windows.

Expectations are computed on the driver with numpy from the generated rows,
independently of the Spark histogram and of the committed outputs: the
quadtree kernel gives each row's cell, and the reference-faithful greedy
(``plans.qttree.QtTree`` + ``tree_rollup`` + ``find_groups``) gives the group
table. Each check returns a list of failure messages; empty means pass.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq

from osmquadtree_spark.kernels import quadtree as qtk
from osmquadtree_spark.operators.changes import CT_DELETE, CT_REMOVE
from osmquadtree_spark.plans import qttree as qtt

# quality-gate kept share below which the curation corpus is misgenerated
QUALITY_KEPT_FLOOR = 0.90
# share of planted near-duplicate pairs the dedup stage must recover
DUP_RECALL_FLOOR = 0.98


class TileExpectation:
    """Per-row cells and the group table a tiling job must produce."""

    def __init__(self, fp, target: int, minsize: int, tree_level: int = 15):
        self.fp = fp
        self.qt = qtk.calculate(*fp)
        cells, counts = np.unique(qtk.round_qt(self.qt, tree_level), return_counts=True)
        tree = qtt.QtTree.from_counts(cells, counts, tree_level)
        qtt.tree_rollup(tree, minsize)
        self.gqt, _, self.gweight = qtt.group_table(qtt.find_groups(tree, target, minsize))
        self.group_of = qtt.assign_groups(self.qt, self.gqt)
        g, c = np.unique(self.group_of, return_counts=True)
        self.tile_counts = dict(zip(g.tolist(), c.tolist()))

    def overlapping(self, box) -> np.ndarray:
        minx, miny, maxx, maxy = self.fp
        a, b, c, d = box
        return np.flatnonzero((minx <= c) & (maxx >= a) & (miny <= d) & (maxy >= b))

    def routed(self, cs: dict, new_qt: np.ndarray) -> list[tuple]:
        """find_change_tiles rows (tile_qt, element_type, id, qt, changetype)
        for one change set, per update.cpp:656-700."""
        out = []
        n = len(self.qt)
        tiles = qtt.assign_groups(new_qt, self.gqt).tolist()
        for i, ct, q, tile in zip(cs["id"].tolist(), cs["changetype"].tolist(), new_qt.tolist(), tiles):
            alloc = int(self.group_of[i]) if i < n else None
            if ct > CT_REMOVE:
                out.append((tile, 0, i, q, ct))
                if alloc is not None and alloc != tile:
                    out.append((alloc, 0, i, 0, CT_REMOVE))
            elif ct in (CT_DELETE, CT_REMOVE) and alloc is not None:
                out.append((alloc, 0, i, 0, ct))
        return sorted(out)


def _read_tile_files(path: str):
    files = sorted(glob.glob(os.path.join(path, "tiles", "data", "*.parquet")))
    return [pq.read_table(f, columns=["image_id", "qt", "group_qt"]) for f in files]


def check_tile_job(out_dir: str, manifest: dict, exp: TileExpectation, n_rows: int) -> tuple[list[str], dict]:
    """Structural and value checks of one committed tiling job; returns
    (failures, fingerprint of the result for cold/warm comparison)."""
    fail = []
    if manifest["tiles"]["rows"] != n_rows:
        fail.append(f"manifest rows {manifest['tiles']['rows']} != input rows {n_rows}")
    if manifest["tiles"]["tiles"] != manifest["groups"]["groups"]:
        fail.append(f"tiles {manifest['tiles']['tiles']} != groups {manifest['groups']['groups']}")
    groups = pq.read_table(os.path.join(out_dir, "groups", "groups.parquet"))
    gqt = groups.column("group_qt").to_numpy()
    if not np.array_equal(gqt, exp.gqt):
        fail.append(f"group table ({len(gqt)} groups) != greedy expectation ({len(exp.gqt)})")
    if not np.array_equal(groups.column("weight").to_numpy(), exp.gweight):
        fail.append("group weights != greedy expectation")
    ids, qts, gs = [], [], []
    for t in _read_tile_files(out_dir):
        i = t.column("image_id").to_pylist()
        q = t.column("qt").to_numpy()
        g = t.column("group_qt").to_numpy()
        key = list(zip(g.tolist(), i))
        if key != sorted(key):
            fail.append("a tile file is not sorted by (group_qt, image_id)")
        ids += i
        qts.append(q)
        gs.append(g)
    qts = np.concatenate(qts) if qts else np.zeros(0, np.int64)
    gs = np.concatenate(gs) if gs else np.zeros(0, np.int64)
    if len(ids) != n_rows:
        fail.append(f"tile table holds {len(ids)} rows, input {n_rows}")
        return fail, {}
    if not qtk.is_ancestor(gs, qts).all():
        fail.append("a row's group_qt is not an ancestor-or-self of its qt")
    idx = np.fromiter((int(s[3:]) for s in ids), np.int64, len(ids))
    if not np.array_equal(np.sort(idx), np.arange(n_rows)):
        fail.append("tile table image_ids are not the input ids")
        return fail, {}
    if not np.array_equal(qts, exp.qt[idx]):
        fail.append("row cells != quadtree kernel expectation")
    if not np.array_equal(gs, exp.group_of[idx]):
        fail.append("row groups != find_tile expectation")
    g, c = np.unique(gs, return_counts=True)
    if dict(zip(g.tolist(), c.tolist())) != exp.tile_counts:
        fail.append("per-tile row counts != expectation")
    return fail, {"groups": gqt.tolist(), "assign": gs[np.argsort(idx)].tolist()}


def check_extract(rows, box, exp: TileExpectation, payload) -> list[str]:
    want = set(exp.overlapping(box).tolist())
    got = {int(r["image_id"][3:]): bytes(r["bytes"]) for r in rows}
    fail = []
    if set(got) != want or len(rows) != len(want):
        fail.append(f"extract {box}: {len(rows)} rows, expected {len(want)}")
    elif any(payload[i] != b for i, b in got.items()):
        fail.append(f"extract {box}: payload bytes differ from the input")
    return fail


def check_update(rows, cs: dict, new_qt: np.ndarray, exp: TileExpectation) -> list[str]:
    got = sorted((r["tile_qt"], r["element_type"], r["id"], r["qt"], r["changetype"]) for r in rows)
    want = exp.routed(cs, new_qt)
    if got != want:
        return [f"update routed {len(got)} rows, expected {len(want)}"]
    return []


def _stable(m: dict) -> dict:
    return {s: {k: v for k, v in d.items() if k != "elapsed_sec"} for s, d in m.items() if s != "total"}


def check_curation(out_dir: str, m: dict, n_docs: int, planted: np.ndarray) -> list[str]:
    """The conservation identities tests/test_curation.py asserts, planted
    near-duplicate recall, the quality kept-share floor and a minority
    decontamination share."""
    q, d, c, w, s = (m[k] for k in ("quality", "dedup", "decon", "weights", "shards"))
    ident = {
        "quality rows == input rows": q["rows"] == n_docs,
        "kept + dropped + manual == rows": q["kept"] + q["dropped"] + q["manual_queue"] == q["rows"],
        "reason histogram sums to rows": sum(q["reason_histogram"].values()) == q["rows"],
        "dedup rows == quality kept": d["rows"] == q["kept"],
        "canonical + non_canonical == dedup rows": d["canonical"] + d["non_canonical"] == d["rows"],
        "bench_excluded >= 0": c["bench_excluded"] >= 0,
        "probed + bench_excluded == canonical": c["probed"] + c["bench_excluded"] == d["canonical"],
        "decon rows + flagged == probed": c["rows"] + c["flagged"] == c["probed"],
        "weights rows == decon rows": w["rows"] == c["rows"],
        "shard docs == weights rows": s["docs"] == w["rows"],
        "final docs == shard docs": m["total"]["final_docs"] == s["docs"],
    }
    fail = [f"curation identity failed: {k}" for k, ok in ident.items() if not ok]
    if q["kept"] < QUALITY_KEPT_FLOOR * q["rows"]:
        fail.append(f"quality kept share {q['kept'] / q['rows']:.3f} < {QUALITY_KEPT_FLOOR}")
    if c["flagged"] * 2 >= max(c["probed"], 1):
        fail.append(f"decon flagged {c['flagged']} of {c['probed']} probed (not a minority)")
    t = pq.read_table(os.path.join(out_dir, "dedup", "data"), columns=["doc_id", "component_id"])
    comp = dict(zip(t.column("doc_id").to_pylist(), t.column("component_id").to_pylist()))
    eligible = [(a, b) for a, b in planted.tolist() if a in comp and b in comp]
    found = sum(comp[a] == comp[b] for a, b in eligible)
    if not eligible or found < DUP_RECALL_FLOOR * len(eligible):
        fail.append(f"dedup recovered {found} of {len(eligible)} planted near-duplicates")
    return fail


def same_result(a: dict, b: dict) -> bool:
    return _stable(a) == _stable(b)
