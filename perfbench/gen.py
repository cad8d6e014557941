"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, generator fingerprint)``: the
image+caption table (clustered placement), the documents table (planted
near-duplicates), the tile_serve change sets and extract boxes. Tables are
written once to ``<cache>/<kind>-<seed>-<fingerprint>.parquet`` with pyarrow
(no Spark), so a rerun with the same seed reads the cached bytes and the
program under test only ever sees the generated parquet.

Placement is clustered on purpose: ``sources.images.footprints`` derives
lon/lat from ``phash`` (lon = phash mod LON_SPAN, lat = phash div LON_SPAN
mod LAT_SPAN), so choosing ``phash`` places the row. Most rows fall into a
seeded set of dense Gaussian clusters over a uniform background; the fixture
table's uniform placement gives a flat cell histogram, which makes grouping
trivial and partitions balanced and so hides what clustering stresses.
"""

from __future__ import annotations

import hashlib
import inspect
import os

import numpy as np

# Table sizes: small enough that a run of each workload, with its cold job
# and its repeats, takes well under a minute on 4 cores.
N_IMAGES = 4_000
N_DOCS = 4_000

# image placement
N_CLUSTERS = 16
CLUSTER_SHARE = 0.85
DEG = 10_000_000  # fixed-point units per degree

# documents
DOC_WORDS = 24  # words per regular doc (min_tokens of quality_gate is 20)
SHORT_WORDS = 10  # words of a planted too-short doc
SHORT_SHARE = 0.04
DUP_STRIDE = 7  # doc idx % 7 == 3 is a near-dup of doc idx - 3
VOCAB = 20_000  # large enough that random docs share few word 3-grams

# tile_serve
N_BOXES = 64
N_CHANGESETS = 16
CHANGES_PER_SET = 200


def fingerprint() -> str:
    """Hash of everything the generated inputs depend on: this module and
    the fixture codecs / georeferencing rule it reuses. Editing either
    invalidates the cache instead of benchmarking stale inputs."""
    from osmquadtree_spark.sources import images as img

    blob = inspect.getsource(inspect.getmodule(fingerprint)) + inspect.getsource(img)
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _cached_parquet(cache_dir: str, kind: str, seed: int, make) -> str:
    """Path of the cached table, generating it (atomically) on a miss."""
    import pyarrow.parquet as pq

    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"{kind}-{seed}-{fingerprint()}.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(make(), tmp, row_group_size=4096)
        os.replace(tmp, path)
    return path


# -- images --------------------------------------------------------------------


def image_layout(seed: int, n: int = N_IMAGES) -> dict:
    """Cluster centres/spreads and per-row ``phash`` (the placement)."""
    from osmquadtree_spark.sources.images import LAT_SPAN, LON_SPAN

    r = _rng(seed, 1)
    centers_lon = r.uniform(-170, 170, N_CLUSTERS) * DEG
    centers_lat = r.uniform(-60, 60, N_CLUSTERS) * DEG
    sigma = r.uniform(0.2, 1.0, N_CLUSTERS) * DEG
    # uneven but not degenerate cluster sizes, so that layouts of different
    # seeds are alike in tile count and skew
    weights = r.dirichlet(np.full(N_CLUSTERS, 4.0))
    in_cluster = r.random(n) < CLUSTER_SHARE
    cid = r.choice(N_CLUSTERS, size=n, p=weights)
    lon = np.where(
        in_cluster,
        centers_lon[cid] + r.normal(0, 1, n) * sigma[cid],
        r.uniform(-180, 180, n) * DEG,
    )
    lat = np.where(
        in_cluster,
        centers_lat[cid] + r.normal(0, 1, n) * sigma[cid],
        r.uniform(-80, 80, n) * DEG,
    )
    lon = np.clip(lon.astype(np.int64), -(LON_SPAN // 2), LON_SPAN // 2 - 1)
    lat = np.clip(lat.astype(np.int64), -(LAT_SPAN // 2), LAT_SPAN // 2 - 1)
    # invert footprints(): lon = phash % LON_SPAN - LON_SPAN/2, lat likewise
    # on phash // LON_SPAN; LON_SPAN * LAT_SPAN < 2^63, so phash stays >= 0
    phash = (lat + LAT_SPAN // 2) * LON_SPAN + (lon + LON_SPAN // 2)
    return {
        "phash": phash.astype(np.int64),
        "centers": np.stack([centers_lon, centers_lat], axis=1).astype(np.int64),
        "sigma": sigma.astype(np.int64),
    }


def _image_arrow(seed: int, n: int):
    import pyarrow as pa

    from osmquadtree_spark.sources import images as img

    phash = image_layout(seed, n)["phash"]
    ids, payload, ws, hs, fmts, caps = [], [], [], [], [], []
    for i in range(n):
        w = img._W_CYCLE[i % 4]
        h = img._H_CYCLE[(i // 4) % 4]
        fmt = img._FMT_CYCLE[i % 3]
        ids.append(f"img{i:012d}")
        payload.append(img.CODECS[fmt][0](img.pixels_for(int(phash[i]), w, h)))
        ws.append(w)
        hs.append(h)
        fmts.append(fmt)
        caps.append(img.caption_for(i))
    return pa.table(
        {
            "image_id": pa.array(ids, pa.string()),
            "bytes": pa.array(payload, pa.binary()),
            "w": pa.array(ws, pa.int32()),
            "h": pa.array(hs, pa.int32()),
            "fmt": pa.array(fmts, pa.string()),
            "caption": pa.array(caps, pa.string()),
            "phash": pa.array(phash, pa.int64()),
        }
    )


def image_table(cache_dir: str, seed: int, n: int = N_IMAGES) -> str:
    """Parquet path of the seeded image+caption table
    (``image_id, bytes, w, h, fmt, caption, phash``)."""
    return _cached_parquet(cache_dir, f"images{n}", seed, lambda: _image_arrow(seed, n))


def image_footprints(phash: np.ndarray):
    """(minx, miny, maxx, maxy) of rows 0..n-1 by the fixture rule — the
    same function ``operators.images.with_footprint`` applies."""
    from osmquadtree_spark.sources import images as img

    n = len(phash)
    idx = np.arange(n, dtype=np.int64)
    w = np.asarray(img._W_CYCLE, np.int32)[idx % 4]
    h = np.asarray(img._H_CYCLE, np.int32)[(idx // 4) % 4]
    return img.footprints(phash, w, h, idx)


# -- tile_serve operations ------------------------------------------------------


def extract_boxes(seed: int, layout: dict, n: int = N_BOXES) -> list[tuple]:
    """Query boxes: even draws sit on a dense cluster (a box up to one
    spread wide), odd draws are 5 x 5 degree boxes anywhere (mostly sparse
    background)."""
    r = _rng(seed, 2)
    boxes = []
    for k in range(n):
        if k % 2 == 0:
            c = r.integers(N_CLUSTERS)
            s = float(layout["sigma"][c])
            cx = layout["centers"][c][0] + r.normal(0, 0.5) * s
            cy = layout["centers"][c][1] + r.normal(0, 0.5) * s
            half = r.uniform(0.1, 0.5) * s
        else:
            cx = r.uniform(-175, 175) * DEG
            cy = r.uniform(-75, 75) * DEG
            half = 2.5 * DEG
        boxes.append(
            (int(cx - half), int(cy - half), int(cx + half), int(cy + half))
        )
    return boxes


def change_sets(seed: int, fp: tuple, n_images: int, n: int = N_CHANGESETS) -> list[dict]:
    """Seeded change sets over the stored image cells: ~60% moves (MODIFY,
    half a small nudge, half a jump that usually changes tile), ~20%
    deletes, ~20% creates of new ids. Each set is a dict of numpy columns
    ``id, changetype, minx, miny, maxx, maxy`` (bbox of the new position;
    the deleted row's stored bbox for deletes). Ids are distinct within a
    set. The new cell is computed by the caller with the quadtree kernel,
    as an updater would."""
    from osmquadtree_spark.operators.changes import CT_CREATE, CT_DELETE, CT_MODIFY
    from osmquadtree_spark.sources.images import LAT_MAX, LON_MAX

    r = _rng(seed, 3)
    minx, miny, maxx, maxy = fp
    out = []
    for s in range(n):
        k = CHANGES_PER_SET
        n_new = k // 5
        n_del = k // 5
        n_mov = k - n_new - n_del
        old = r.choice(n_images, size=n_mov + n_del, replace=False)
        mov, dele = old[:n_mov], old[n_mov:]
        jump = r.random(n_mov) < 0.5
        scale = np.where(jump, 3.0 * DEG, 0.001 * DEG)
        dx = (r.normal(0, 1, n_mov) * scale).astype(np.int64)
        dy = (r.normal(0, 1, n_mov) * scale).astype(np.int64)
        new_ids = n_images + s * k + np.arange(n_new, dtype=np.int64)
        cx = r.uniform(-170, 170, n_new) * DEG
        cy = r.uniform(-70, 70, n_new) * DEG

        def clip(a, hi):
            return np.clip(a, -hi, hi).astype(np.int64)

        out.append(
            {
                "id": np.concatenate([mov, dele, new_ids]).astype(np.int64),
                "changetype": np.concatenate(
                    [
                        np.full(n_mov, CT_MODIFY),
                        np.full(n_del, CT_DELETE),
                        np.full(n_new, CT_CREATE),
                    ]
                ).astype(np.int64),
                "minx": np.concatenate([clip(minx[mov] + dx, LON_MAX), minx[dele], clip(cx, LON_MAX)]),
                "miny": np.concatenate([clip(miny[mov] + dy, LAT_MAX), miny[dele], clip(cy, LAT_MAX)]),
                "maxx": np.concatenate([clip(maxx[mov] + dx, LON_MAX), maxx[dele], clip(cx, LON_MAX)]),
                "maxy": np.concatenate([clip(maxy[mov] + dy, LAT_MAX), maxy[dele], clip(cy, LAT_MAX)]),
            }
        )
    return out


# -- documents -----------------------------------------------------------------


def vocabulary(seed: int, size: int = VOCAB) -> np.ndarray:
    """``size`` distinct lowercase words of 3-10 letters."""
    r = _rng(seed, 4)
    words: set[str] = set()
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    while len(words) < size:
        lens = r.integers(3, 11, size)
        chars = letters[r.integers(0, 26, (size, 10))]
        for row, ln in zip(chars, lens):
            words.add(b"".join(row[:ln]).decode())
            if len(words) == size:
                break
    return np.array(sorted(words))


def doc_texts(seed: int, n: int = N_DOCS) -> np.ndarray:
    """Texts of doc ids 0..n-1. Doc ``i`` with ``i % 7 == 3``
    repeats doc ``i - 3``'s words plus one extra tail word (a planted near
    duplicate, word 3-gram Jaccard ~0.9); a seeded ~4% of the other docs
    are too short for the quality gate (reason 1)."""
    r = _rng(seed, 5)
    vocab = vocabulary(seed)
    draws = r.integers(0, len(vocab), (n, DOC_WORDS))
    short = r.random(n) < SHORT_SHARE
    tail = vocab[r.integers(0, len(vocab), n)]
    texts = np.empty(n, dtype=object)
    for i in range(n):
        base = i - 3 if i % DUP_STRIDE == 3 else i
        k = SHORT_WORDS if short[base] else DOC_WORDS
        words = vocab[draws[base, :k]]
        t = " ".join(words)
        texts[i] = t + " " + tail[i] if base != i else t
    return texts


def planted_pairs(n: int = N_DOCS) -> np.ndarray:
    """(dup, original) doc id pairs planted by :func:`doc_texts`."""
    dup = np.arange(3, n, DUP_STRIDE, dtype=np.int64)
    return np.stack([dup, dup - 3], axis=1)


def doc_table(cache_dir: str, seed: int, n: int = N_DOCS) -> str:
    """Parquet path of the seeded documents table (``doc_id, text``)."""
    import pyarrow as pa

    def make():
        texts = doc_texts(seed, n)
        return pa.table(
            {
                "doc_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": pa.array(texts.tolist(), pa.string()),
            }
        )

    return _cached_parquet(cache_dir, f"docs{n}", seed, make)
