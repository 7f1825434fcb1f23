"""The workloads: fixed call sequences against the public API, their
reference outputs and their output checks.

spatial_join also carries the tile-ingest calls (a checkpointed write of
its tile rollup, then the resume) and text_dedup both sides of the
connected-components edge gate: one run costs about a minute on four
cores, most of it session start and the cold pass, so two workloads are
what the benchmark's time budget holds.

A workload is a list of `Call`s. Each call has an optional `plan` step
(the public call itself, including whatever eager Spark work it does)
and an optional `act` step (the action that consumes the result). The
action returns a digest — row count plus an order-insensitive xor of
row hashes — that every pass must reproduce and that `check` compares
with a reference computed by a different code path. simhash_pairs is
approximate and has no exact reference: its digest must repeat the
last pass's, and its planted-pair recall must reach a floor.

minhash_lsh_pairs is not called. Its signatures take pmod(x, 2^31-1)
* a + b with no modulus after the multiply, which is increasing in x
for every (a, b): all 32 "permutations" pick the same minimum shingle,
so planted-pair recall is about J (0.87-0.92 here) instead of the
1-(1-J^4)^8 ~ 0.999 that 8 bands of 4 rows give, and no run could pass
a recall check set from LSH theory. It comes back with that check once
the hash family is fixed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inputs import SIZES, wkb_shell


@dataclass
class Call:
    name: str
    rows_in: int
    plan: Callable[[dict], Any] | None
    act: Callable[[Any, dict], Any] | None


def digest(df: DataFrame, cols: list[str]) -> tuple:
    """(rows, xor of xxhash64 over `cols`) in one aggregate action.
    Integral columns hash as bigint, so an int and a long column agree."""
    types = dict(df.dtypes)
    keys = [f"CAST({c} AS BIGINT)" if types[c] in ("int", "smallint", "tinyint") else c for c in cols]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(keys)}))").alias("h"),
    ).first()
    return (int(row["n"]), int(row["h"] or 0))


_P1, _P2, _P3, _P4, _P5 = (np.uint64(v) for v in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxhash64_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of one 8-byte little-endian value per row, as Spark's
    xxhash64 hashes a bigint column."""
    h = seed + _P5 + np.uint64(8)
    h ^= _rotl(v * _P2, 31) * _P1
    h = _rotl(h, 27) * _P1 + _P4
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def pairs_digest(rows) -> tuple:
    """The digest of `digest` over driver-side integer rows, computed in
    numpy: XXH64 chained over the columns from Spark's seed 42."""
    arr = np.asarray(rows if isinstance(rows, np.ndarray) else list(rows), dtype=np.int64)
    if not arr.size:
        return (0, 0)
    with np.errstate(over="ignore"):
        h = np.full(len(arr), 42, dtype=np.uint64)
        for col in arr.reshape(len(arr), -1).T:
            h = _xxhash64_long(col.view(np.uint64), h)
    return (len(arr), int(np.bitwise_xor.reduce(h).view(np.int64)))


def inside_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast, vectorised over the points."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    crosses = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x1[None, :] + (py[:, None] - y1[None, :]) * (x2 - x1)[None, :] / (y2 - y1)[None, :]
    return ((crosses & (px[:, None] < xi)).sum(axis=1) % 2) == 1


def pip_pairs(px, py, ids, zone_ids, rings) -> np.ndarray:
    """(point id, zone id) rows for every point inside a zone."""
    out = []
    for zid, ring in zip(zone_ids, rings):
        cand = np.flatnonzero((px >= ring[:, 0].min()) & (px <= ring[:, 0].max())
                              & (py >= ring[:, 1].min()) & (py <= ring[:, 1].max()))
        hit = cand[inside_ring(px[cand], py[cand], ring)]
        out.append(np.column_stack([ids[hit], np.full(len(hit), zid)]))
    return np.concatenate(out)


def union_find(edges) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {a: find(a) for a in parent}


def jaccard_reference(ids, shingles, threshold: float) -> set[tuple[int, int]]:
    """Every (id_a < id_b) pair whose shingle sets have Jaccard at least
    `threshold`, counted exactly through an inverted index."""
    postings: dict[str, list[int]] = {}
    for i, sh in enumerate(shingles):
        for x in sh:
            postings.setdefault(x, []).append(i)
    common: dict[tuple[int, int], int] = {}
    for docs in postings.values():
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                key = (docs[a], docs[b])
                common[key] = common.get(key, 0) + 1
    out = set()
    for (a, b), c in common.items():
        if c / (len(shingles[a]) + len(shingles[b]) - c) >= threshold:
            out.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    return out


def _seconds_per_item(fn, items) -> float:
    """Median seconds per item of fn over items, in three timed rounds."""
    rounds = []
    for _ in range(3):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        rounds.append((time.perf_counter() - t0) / len(items))
    return statistics.median(rounds)


class Workload:
    """Inputs read from parquet, the call list and the checks."""

    name = ""

    def __init__(self, spark: SparkSession, data: str, props: dict):
        self.spark, self.data = spark, data
        self.s = SIZES[self.name]
        self.calls: list[Call] = []
        self.expect: dict[str, Any] = {}

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(f"{self.data}/{name}.parquet")

    def local(self, name: str) -> dict[str, np.ndarray]:
        t = pq.read_table(f"{self.data}/{name}.parquet")
        return {c: t.column(c).to_numpy() for c in t.column_names}

    @property
    def rows_in(self) -> int:
        return sum(c.rows_in for c in self.calls)

    def after_pass(self, ctx: dict) -> None:
        """Clean-up between passes, outside the timed region."""

    def references(self, ctx: dict) -> None:
        """Fill self.expect[call] with the reference result; `ctx` holds
        the last pass's call results by call name."""
        raise NotImplementedError

    def check(self, call: str, got: Any) -> str | None:
        """None if `got` matches the reference, else a reason."""
        want = self.expect.get(call)
        if want is None:
            return "no reference"
        return None if got == want else f"got {got}, want {want}"

    def traced_extras(self, layer: dict, got: dict, slots: int) -> dict:
        """Per-layer numbers only the traced run measures; `got` holds the
        last traced pass's action results by call name."""
        return {}

    def gate_failures(self, spark_stats: dict, passes: list[int]) -> tuple[list[str], list[str]]:
        """(gate checks made, failures) from the traced jobs of each pass."""
        return [], []


# -- spatial_join -------------------------------------------------------------
class SpatialJoin(Workload):
    name = "spatial_join"

    def __init__(self, spark, data, props):
        super().__init__(spark, data, props)
        from pygeoops_spark import assign_to_grid, knn_join, pip_join_polygons, pip_join_rects, run_checkpointed

        s = self.s
        pages, rects, stars = self.read("pages"), self.read("rects"), self.read("stars")
        brute, ring, probes = self.read("brute_targets"), self.read("ring_targets"), self.read("ring_probes")
        knn_probes = self.read("knn_probes")
        n, g = s["points"], s["grid"]
        ingest = os.path.join(os.path.dirname(data), "ingest")

        def rects_plan(ctx):
            j = pip_join_rects(pages, rects, level=5)
            t = assign_to_grid(j, "x", "y", (0.0, 0.0, 1000.0, 1000.0), g, g)
            ctx["base"] = os.path.join(ingest, f"pass{ctx['pass']}")
            return t.groupBy("zone_id", "tile_col", "tile_id").agg(F.count(F.lit(1)).alias("n"))

        def checkpointed(_res, ctx):
            # the tile rollup, committed per grid column in key-sorted
            # batches; the second call on the same directory is the resume
            return run_checkpointed(spark, ctx["join.pip_join_rects"], ctx["base"], "tile_col",
                                    batch_partitions=s["batch_partitions"])

        def knn(p, t):
            return lambda ctx: knn_join(p, t, "page_id", "target_id", k=s["k"], level=s["knn_level"],
                                        radius=s["radius"], guarantee_exact=True)

        knn_cols = ["page_id", "target_id_nn", "knn_rank"]
        self.calls = [
            Call("join.pip_join_rects", n, rects_plan,
                 lambda df, ctx: digest(df, ["zone_id", "tile_id", "n"])),
            Call("run.run_checkpointed.write", n, None, checkpointed),
            Call("run.run_checkpointed.resume", n, None, checkpointed),
            Call("join.pip_join_polygons", n, lambda ctx: pip_join_polygons(pages, stars, level=None),
                 lambda df, ctx: digest(df, ["page_id", "zone_id"])),
            Call("join.knn_join.brute", s["knn_probes"], knn(knn_probes, brute), lambda df, ctx: digest(df, knn_cols)),
            Call("join.knn_join.ring", s["ring_probes"], knn(probes, ring), lambda df, ctx: digest(df, knn_cols)),
        ]
        self.tables = dict(pages=pages, rects=rects, stars=stars, probes=probes, ring=ring)
        self.files: list[tuple[int, int]] = []

    def after_pass(self, ctx):
        base = ctx.get("base")
        if base and os.path.isdir(base):
            files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(base, "data")) for f in fs
                     if f.endswith(".parquet")]
            self.files.append((len(files), sum(os.path.getsize(f) for f in files)))
            shutil.rmtree(base)

    def references(self, ctx):
        from pygeoops_spark.join.knn import knn_join_bruteforce

        spark, t = self.spark, self.tables
        t["pages"].createOrReplaceTempView("pb_pages")
        t["rects"].createOrReplaceTempView("pb_rects")
        # plain SQL bbox containment + the grid's tile arithmetic
        g = self.s["grid"]
        rollup = spark.sql(f"""
            SELECT zone_id, tile_col, tile_col * {g} + tile_row AS tile_id, count(1) AS n FROM (
              SELECT z.zone_id,
                     CAST(least({g - 1}, greatest(0, floor(p.x / {1000.0 / g}))) AS BIGINT) AS tile_col,
                     CAST(least({g - 1}, greatest(0, floor(p.y / {1000.0 / g}))) AS BIGINT) AS tile_row
              FROM pb_pages p JOIN pb_rects z
                ON p.x BETWEEN z.xmin AND z.xmax AND p.y BETWEEN z.ymin AND z.ymax)
            GROUP BY zone_id, tile_col, tile_row""").persist()
        self.expect["join.pip_join_rects"] = digest(rollup, ["zone_id", "tile_id", "n"])
        cols = rollup.select("tile_col").distinct().count()
        rollup.unpersist()
        # every pass commits each grid column's rollup rows once; the
        # resume finds them all in the manifest and writes nothing
        rows = self.expect["join.pip_join_rects"][0]
        self.expect["run.run_checkpointed.write"] = {"written": cols, "skipped": 0, "rows_out": rows}
        self.expect["run.run_checkpointed.resume"] = {"written": 0, "skipped": cols, "rows_out": 0}
        pg, z = self.local("pages"), self.local("stars")
        rings = [wkb_shell(b) for b in z["zone_wkb"]]
        pairs = pip_pairs(pg["x"], pg["y"], pg["page_id"], z["zone_id"], rings)
        self.expect["join.pip_join_polygons"] = pairs_digest(pairs)
        # brute side: numpy top-k; ring side: the engine's brute-force join
        k = self.s["k"]
        tg = self.local("brute_targets")
        tx, ty, tid = tg["x"], tg["y"], tg["target_id"]
        kp = self.local("knn_probes")
        qx, qy, qid = kp["x"], kp["y"], kp["page_id"]
        d = np.sqrt((qx[:, None] - tx[None, :]) ** 2 + (qy[:, None] - ty[None, :]) ** 2)
        top = np.lexsort((np.broadcast_to(tid, d.shape), d), axis=1)[:, :k]
        rows = np.column_stack([np.repeat(qid, k), tid[top].ravel(), np.tile(np.arange(1, k + 1), len(qid))])
        self.expect["join.knn_join.brute"] = pairs_digest(rows)
        self.expect["join.knn_join.ring"] = digest(
            knn_join_bruteforce(t["probes"], t["ring"], "page_id", "target_id", k),
            ["page_id", "target_id_nn", "knn_rank"])

    def gate_failures(self, spark_stats, passes):
        """The kNN brute-force escape runs only the target count in its
        plan step (one job, two with AQE); the ring path also runs its
        exactness checks, re-query rounds and final checkpoint there."""
        bad = []
        for p in passes:
            jobs = {side: spark_stats.get(f"pass{p}|join.knn_join.{side}|plan", {}).get("jobs", 0)
                    for side in ("brute", "ring")}
            if jobs["brute"] > 2 or jobs["ring"] < 5:
                bad.append(f"pass {p}: kNN plan-step jobs {jobs} do not show brute<=2 and ring>=5")
        return [f"pass {p} knn gate" for p in passes], bad

    def traced_extras(self, layer, got, slots):
        """The bbox-candidate count by plain SQL for the kept ratio, the
        written files, and the driver-side prepared-PIP kernel sample."""
        from pygeoops_spark.geom.kernels import point_in_polygon_prepared

        files = self.files[-1] if self.files else (0, 0)
        out = {"run.run_checkpointed.write.files": float(files[0]),
               "run.run_checkpointed.write.bytes_mb": files[1] / 2**20,
               "run.run_checkpointed.resume.skipped": got["run.run_checkpointed.resume"]["skipped"]}
        t = self.tables
        n_cand = t["pages"].crossJoin(t["stars"].drop("zone_wkb")).where(
            F.col("x").between(F.col("xmin"), F.col("xmax")) & F.col("y").between(F.col("ymin"), F.col("ymax"))
        ).count()
        out["join.pip_join_polygons.kept_ratio"] = got["join.pip_join_polygons"][0] / max(n_cand, 1)
        pg, z = self.local("pages"), self.local("stars")
        px, py = pg["x"], pg["y"]
        work = []
        for b in z["zone_wkb"]:
            ring = wkb_shell(b)
            m = (px >= ring[:, 0].min()) & (px <= ring[:, 0].max()) & (py >= ring[:, 1].min()) & (py <= ring[:, 1].max())
            work.append((point_in_polygon_prepared([(np.array(ring), False)]), px[m], py[m]))
        per_zone = _seconds_per_item(lambda w: w[0](w[1], w[2]), work)
        ns = per_zone * len(work) / max(sum(len(w[1]) for w in work), 1) * 1e9
        out["geom.point_in_polygon_prepared.ns_per_pt"] = ns
        exec_s = layer.get("join.pip_join_polygons.exec_s", 0.0)
        out["operators.point_in_polygon_prepared.kernel_share"] = (
            ns * 1e-9 * n_cand / slots / exec_s if exec_s else 0.0)
        return out


# -- text_dedup -----------------------------------------------------------------
class TextDedup(Workload):
    name = "text_dedup"
    THRESHOLD = 0.5
    MAX_HAMMING = 8
    # planted-pair recall floor of simhash_pairs, measured on this
    # generator over 24 seeds (0.57-0.76). It agrees with a binomial
    # model: a planted pair's 64-bit signatures differ in about 6.6
    # bits, and it is found only when one of the four 16-bit bands
    # holds none of them and the distance is at most MAX_HAMMING.
    SIMHASH_FLOOR = 0.5

    def __init__(self, spark, data, props):
        super().__init__(spark, data, props)
        from pygeoops_spark import connected_components, jaccard_pairs, simhash_pairs

        self.recall = 0.0
        self.bad: dict[str, str] = {}
        docs, edges = self.read("docs"), self.read("cc_edges")
        n, e = self.s["docs"], props["cc_edges"]
        pair_cols = ["id_a", "id_b"]

        def cc(src, key):
            def plan(ctx):
                stats: dict = {}
                out = connected_components(src(ctx), stats=stats)
                ctx[key] = stats.get("rounds")
                return out
            return plan

        self.calls = [
            Call("text.jaccard_pairs", n, lambda ctx: jaccard_pairs(docs, threshold=self.THRESHOLD),
                 lambda df, ctx: digest(df, pair_cols)),
            Call("text.simhash_pairs", n, lambda ctx: simhash_pairs(docs, max_hamming=self.MAX_HAMMING),
                 lambda df, ctx: digest(df, pair_cols)),
            Call("text.connected_components.unionfind", n // self.s["dup_every"],
                 cc(lambda ctx: ctx["text.jaccard_pairs"], "uf_rounds"),
                 lambda df, ctx: (digest(df, ["node", "component"]), ctx["uf_rounds"])),
            Call("text.connected_components.distributed", e, cc(lambda ctx: edges, "dist_rounds"),
                 lambda df, ctx: (digest(df, ["node", "component"]), ctx["dist_rounds"])),
        ]

    def references(self, ctx):
        docs = self.local("docs")
        shingles = []
        for t in docs["text"]:
            w = t.split()
            shingles.append(frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2)))
        ids = docs["doc_id"].tolist()
        ref = jaccard_reference(ids, shingles, self.THRESHOLD)
        every = self.s["dup_every"]
        planted = {(ids[i - 1], ids[i]) for i in range(every - 1, len(ids), every)}
        self.expect["text.jaccard_pairs"] = pairs_digest(sorted(ref))
        # the approximate operator: every pass must give the last pass's
        # pairs, and enough of the planted pairs
        out = ctx["text.simhash_pairs"]
        got = {(int(r[0]), int(r[1])) for r in out.select("id_a", "id_b").collect()}
        self.recall = len(got & planted) / len(planted)
        self.expect["text.simhash_pairs"] = digest(out, ["id_a", "id_b"])
        if self.recall < self.SIMHASH_FLOOR:
            self.bad["text.simhash_pairs"] = f"planted-pair recall {self.recall:.4f} < {self.SIMHASH_FLOOR}"
        self.expect["text.connected_components.unionfind"] = pairs_digest(
            list(union_find(sorted(ref)).items()))
        # every star's label is its smallest node, known by construction
        self.expect["text.connected_components.distributed"] = digest(
            self.read("cc_roots"), ["node", "component"])

    def check(self, call, got):
        if call in self.bad:
            return self.bad[call]
        if call.startswith("text.connected_components."):
            # stats["rounds"] names the side of the edge gate that ran:
            # 0 for the single-task union-find, >= 1 for the distributed loop
            dig, rounds = got
            if (rounds == 0) != call.endswith(".unionfind"):
                return f"rounds={rounds}: the other side of the CC edge gate ran"
            got = dig
        return super().check(call, got)

    def traced_extras(self, layer, got, slots):
        return {
            "text.simhash_pairs.recall": self.recall,
            "text.connected_components.distributed.rounds": got["text.connected_components.distributed"][1],
        }


WORKLOADS = {w.name: w for w in (SpatialJoin, TextDedup)}
