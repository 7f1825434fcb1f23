"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed): numpy's PCG64
stream draws the coordinates and words, pyarrow writes them to parquet,
and the program under test only ever reads those files. Geometry is
encoded by the small ISO-WKB writer below, so the generator shares no
code with the engine it feeds.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one level-5 cell of the engine's [0, 1024)^2 cell index: x0, y0, side
HOT_CELL = (15 * 32.0, 15 * 32.0, 32.0)

# Sizes: each is the largest that keeps a run near a minute on four
# cores, the benchmark's time budget per run. Session start and the
# cold pass take most of that minute at any size, so this is half of
# bench.py's 2M flagship pages, a quarter of its 200k geographic kNN
# probes, and its 5k-doc text scaling base. From 10k to these sizes
# the warm pass grows by about a fifth: the brute kNN and the text
# self-joins grow with the input, while the PIP joins stay mostly
# per-call fixed cost up to 4M points. The ring probes and the CC graph
# are sized by the gates they sit beyond.
SIZES = {
    "spatial_join": dict(points=1_000_000, hot_share=0.2, zones=64, star_vertices=64, grid=16,
                         batch_partitions=16, knn_probes=50_000, brute_targets=64, ring_probes=256,
                         ring_lattice=12, knn_level=4, k=4, radius=2),
    "text_dedup": dict(docs=5_000, words_per_doc=40, dup_every=10, cc_stars=20_040, cc_star_size=6),
}


# -- ISO WKB writer (little endian) -----------------------------------------
def wkb_polygon(ring: np.ndarray) -> bytes:
    ring = np.asarray(ring, dtype="<f8")
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.tobytes()


def wkb_shell(buf: bytes) -> np.ndarray:
    """The ring of a polygon written by wkb_polygon."""
    (n,) = struct.unpack_from("<I", buf, 9)
    return np.frombuffer(buf, "<f8", 2 * n, 13).reshape(n, 2)


# A table of more than a few dozen rows is a directory of FILES parquet
# files, as a dataset written by a cluster job would be. One small file
# is one Spark input partition, which would serialise every kernel.
FILES = 8


def _write(path: str, table: dict) -> None:
    t = pa.table(table)
    if t.num_rows < 4 * FILES:
        pq.write_table(t, path)
        return
    os.makedirs(path)
    step = -(-t.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet"))


# -- spatial ----------------------------------------------------------------
def _points(rng: np.random.Generator, n: int, hot_share: float) -> tuple[np.ndarray, np.ndarray]:
    """Uniform points over [0, 1000)^2 with `hot_share` of them spread
    over one whole level-5 cell (a thin hotspot would hide kernel skew)."""
    x = rng.uniform(0.0, 1000.0, n)
    y = rng.uniform(0.0, 1000.0, n)
    hot = rng.random(n) < hot_share
    x0, y0, side = HOT_CELL
    x[hot] = x0 + rng.uniform(0.0, side, hot.sum())
    y[hot] = y0 + rng.uniform(0.0, side, hot.sum())
    return x, y


def _rect_zones(rng: np.random.Generator, m: int) -> dict:
    """m jittered rectangles on an 8-wide lattice over [0, 1000)^2."""
    i = np.arange(m)
    xmin = (i % 8) * 125.0 + rng.uniform(-10.0, 10.0, m)
    ymin = (i // 8) * 125.0 + rng.uniform(-10.0, 10.0, m)
    return dict(
        zone_id=i.astype(np.int64),
        xmin=xmin, ymin=ymin,
        xmax=xmin + rng.uniform(100.0, 140.0, m),
        ymax=ymin + rng.uniform(100.0, 140.0, m),
    )


def star_rings(rng: np.random.Generator, rects: dict, n_vertices: int) -> list[np.ndarray]:
    """One star-convex polygon inscribed in each rectangle."""
    rings = []
    theta = 2.0 * np.pi * np.arange(n_vertices) / n_vertices
    for xmin, ymin, xmax, ymax in zip(rects["xmin"], rects["ymin"], rects["xmax"], rects["ymax"]):
        cx, cy, hx, hy = (xmin + xmax) / 2, (ymin + ymax) / 2, (xmax - xmin) / 2, (ymax - ymin) / 2
        rad = rng.uniform(0.55, 0.95, n_vertices)
        rings.append(np.column_stack([cx + hx * rad * np.cos(theta), cy + hy * rad * np.sin(theta)]))
    return rings


def gen_spatial(rng: np.random.Generator, out: str, s: dict) -> dict:
    n = s["points"]
    x, y = _points(rng, n, s["hot_share"])
    _write(f"{out}/pages.parquet", dict(page_id=np.arange(n, dtype=np.int64), x=x, y=y))
    rects = _rect_zones(rng, s["zones"])
    _write(f"{out}/rects.parquet", rects)
    props = dict(points=n, hot_share=s["hot_share"], zones=s["zones"], grid=f"{s['grid']}x{s['grid']}",
                 batch_partitions=s["batch_partitions"])
    rings = star_rings(rng, rects, s["star_vertices"])
    bb = [(r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()) for r in rings]
    _write(f"{out}/stars.parquet", dict(
        zone_id=rects["zone_id"], zone_wkb=[wkb_polygon(r) for r in rings],
        xmin=[b[0] for b in bb], ymin=[b[1] for b in bb], xmax=[b[2] for b in bb], ymax=[b[3] for b in bb],
    ))
    probes = np.sort(rng.choice(n, s["knn_probes"], replace=False))
    _write(f"{out}/knn_probes.parquet", dict(page_id=probes.astype(np.int64), x=x[probes], y=y[probes]))
    m = s["brute_targets"]
    _write(f"{out}/brute_targets.parquet", dict(
        target_id=np.arange(m, dtype=np.int64), x=rng.uniform(0.0, 1000.0, m), y=rng.uniform(0.0, 1000.0, m)))
    # ring side: 144 targets, past the gate's k*(2r+1)^2 = 100, on a
    # jittered 100-unit lattice over [-50, 1050]^2. Every probe's 4th
    # neighbour lies within about 117 units, inside the 128 units the
    # level-4 ring of radius 2 guarantees, so every seed passes the
    # exactness check at the first ring: uniform targets re-query a
    # seed-dependent number of rounds and the timing follows the seed.
    g = s["ring_lattice"]
    lx, ly = np.meshgrid(np.arange(g) * 100.0 - 50.0, np.arange(g) * 100.0 - 50.0)
    _write(f"{out}/ring_targets.parquet", dict(
        target_id=np.arange(g * g, dtype=np.int64),
        x=lx.ravel() + rng.uniform(-3.0, 3.0, g * g), y=ly.ravel() + rng.uniform(-3.0, 3.0, g * g)))
    probes = np.sort(rng.choice(n, s["ring_probes"], replace=False))
    _write(f"{out}/ring_probes.parquet", dict(page_id=probes.astype(np.int64), x=x[probes], y=y[probes]))
    props.update(star_vertices=s["star_vertices"], knn_probes=s["knn_probes"], brute_targets=s["brute_targets"],
                 ring_probes=s["ring_probes"], ring_targets=s["ring_lattice"] ** 2, k=s["k"],
                 radius=s["radius"], knn_gate_capacity=s["k"] * (2 * s["radius"] + 1) ** 2)
    return props


# -- text ---------------------------------------------------------------------
COMMON = (
    "the of and to in is was for on that with as at by from this be are it an "
    "or not have has had but were which their its they more one all new also"
).split()


def gen_text(rng: np.random.Generator, out: str, s: dict) -> dict:
    """Docs with a long-tail vocabulary; every `dup_every`-th doc copies
    its predecessor with the first two words re-drawn (3-shingle Jaccard
    ~0.9). Plus a forest of stars as a CC graph just over the engine's
    100k-edge union-find gate."""
    n, w, every = s["docs"], s["words_per_doc"], s["dup_every"]
    tail = 4 * n
    common = rng.integers(0, len(COMMON), (n, w))
    tails = rng.integers(0, tail, (n, w))
    is_common = rng.random((n, w)) < 0.5
    dup = np.arange(n) % every == every - 1
    src_doc = np.flatnonzero(dup) - 1
    for arr in (common, tails, is_common):
        arr[dup] = arr[src_doc]
    # re-draw the first two words of each planted copy, never to the same word
    common[dup, :2] = rng.integers(0, len(COMMON), (dup.sum(), 2))
    tails[dup, :2] = tail + rng.integers(0, tail, (dup.sum(), 2))
    is_common[dup, :2] = False
    texts = [
        " ".join(COMMON[c] if ic else f"t{t}" for c, t, ic in zip(cr, tr, icr))
        for cr, tr, icr in zip(common, tails, is_common)
    ]
    _write(f"{out}/docs.parquet", dict(doc_id=np.arange(n, dtype=np.int64), text=texts))

    # stars with a random centre: the distributed CC needs two rounds,
    # and each star's label is its smallest node
    stars, size = s["cc_stars"], s["cc_star_size"]
    ids = rng.permutation(stars * size).astype(np.int64).reshape(stars, size)
    src, dst = ids[:, 1:].ravel(), np.repeat(ids[:, 0], size - 1)
    _write(f"{out}/cc_edges.parquet", dict(id_a=src, id_b=dst))
    _write(f"{out}/cc_roots.parquet", dict(node=ids.ravel(), component=np.repeat(ids.min(axis=1), size)))
    return dict(docs=n, words_per_doc=w, planted_dup_rate=float(dup.mean()),
                planted_pairs=int(dup.sum()), cc_edges=int(src.size), cc_components=stars)


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs under `out`; return their properties."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    s = SIZES[workload]
    if workload == "text_dedup":
        return gen_text(rng, out, s)
    return gen_spatial(rng, out, s)
