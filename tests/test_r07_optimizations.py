"""Round-7 optimization equivalence tests.

Each r07 optimization that changed an operator's internals gets a
focused identity check here: the fast path must produce EXACTLY the
rows of the path it replaced.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_knn_brute_escape_matches_ring_path(spark):
    """guarantee_exact with a small target set takes the broadcast
    brute-force escape; forcing the ring+recursion machinery (via the
    internal _caches seam, which marks the call non-top-level) must
    give the identical rows — both are 'exact top-k', so any
    difference is a bug in one of them."""
    from pygeoops_spark.join.knn import knn_join

    i = F.col("id")
    probes = spark.range(300).select(
        i.alias("pid"),
        ((i * 37 % 997).cast("double")).alias("x"),
        ((i * 61 % 983).cast("double")).alias("y"),
    )
    targets = spark.range(20).select(
        i.alias("tid"),
        ((i * 131 % 1000).cast("double")).alias("x"),
        ((i * 271 % 1000).cast("double")).alias("y"),
    )
    kw = dict(k=3, level=3, radius=2, guarantee_exact=True)
    fast = knn_join(probes, targets, "pid", "tid", **kw)  # 20 <= 3*25 -> escape
    caches: list = []
    ring = knn_join(probes, targets, "pid", "tid", _caches=caches, **kw)
    try:
        assert _rows(fast) == _rows(ring)
    finally:
        for c in caches:
            c.unpersist()


def test_geo_knn_brute_escape_matches_ring_path(spark):
    from pygeoops_spark.join.geo_knn import geodesic_knn_join

    i = F.col("id")
    probes = spark.range(200).select(
        i.alias("pid"),
        ((i * 37 % 360 - 180).cast("double") + F.lit(0.25)).alias("lon"),
        ((i * 23 % 160 - 80).cast("double") + F.lit(0.125)).alias("lat"),
    )
    targets = spark.range(12).select(
        i.alias("tid"),
        ((i * 53 % 360 - 180).cast("double") + F.lit(0.5)).alias("lon"),
        ((i * 29 % 150 - 75).cast("double") + F.lit(0.5)).alias("lat"),
    )
    kw = dict(k=3, level=2, radius=1, guarantee_exact=True)
    fast = geodesic_knn_join(probes, targets, "pid", "tid", **kw)  # 12 <= 27
    caches: list = []
    ring = geodesic_knn_join(probes, targets, "pid", "tid", _caches=caches, **kw)
    try:
        assert _rows(fast) == _rows(ring)
    finally:
        for c in caches:
            c.unpersist()


def _uf_labels(edges):
    """Reference components: Python union-find, root = min node; a pair
    with a NULL id is dropped."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in list(parent))


CC_GRAPHS = {
    "chain": [(i, i + 1) for i in range(100, 140)],
    "triangle": [(200, 201), (201, 202), (200, 202)],
    "clique": [(a, b) for a in range(10, 18) for b in range(a + 1, 18)],
    "star_nonmin_centre": [(505, x) for x in range(500, 511) if x != 505],
    "self_pair_only_node": [(300, 301), (400, 400)],
    "self_pair_on_edge_node": [(300, 301), (301, 301), (302, 302)],
    "duplicate_reversed": [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (4, 3)],
    "empty": [],
    "null_ids": [(1, 2), (None, 3), (4, None), (None, None)],
    "mixed": [(i, i + 1) for i in range(100, 140)]
    + [(200, 201), (201, 202), (200, 202), (300, 301), (400, 400)],
}


@pytest.mark.parametrize("graph", list(CC_GRAPHS))
def test_cc_gate_matches_distributed_rounds(spark, monkeypatch, graph):
    """Both sides of the CC edge gate — the single-task union-find and
    the distributed alternating-star loop (gate forced below zero via
    env, so that an empty graph takes it too) — must label exactly like
    a Python union-find."""
    from pygeoops_spark.text.pipeline import connected_components

    edges = CC_GRAPHS[graph]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _uf_labels(edges)

    fast_stats: dict = {}
    assert _rows(connected_components(pairs, stats=fast_stats)) == want
    assert fast_stats["rounds"] == 0  # gate path taken

    monkeypatch.setenv("PYGEOOPS_CC_LOCAL_MAX_EDGES", "-1")
    dist_stats: dict = {}
    assert _rows(connected_components(pairs, stats=dist_stats)) == want
    assert dist_stats["rounds"] >= 1  # distributed path taken


def test_cc_star_forest_converges_in_one_round(spark, monkeypatch):
    """A forest of stars whose centres are not their minimum nodes is
    star-shaped after one alternating round; the fixed-point test must
    see that in the same round, not spend a second one confirming it."""
    from pygeoops_spark.text.pipeline import connected_components

    edges = [(s * 10 + 5, s * 10 + j) for s in range(20) for j in range(8) if j != 5]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    monkeypatch.setenv("PYGEOOPS_CC_LOCAL_MAX_EDGES", "0")
    stats: dict = {}
    assert _rows(connected_components(pairs, stats=stats)) == _uf_labels(edges)
    assert stats["rounds"] == 1


def test_cc_gate_env_is_clamped(spark, monkeypatch):
    """PYGEOOPS_CC_LOCAL_MAX_EDGES cannot raise the single-task gate
    above its memory ceiling."""
    from pygeoops_spark.text import pipeline

    monkeypatch.setattr(pipeline, "_CC_LOCAL_CEILING", 2)
    monkeypatch.setenv("PYGEOOPS_CC_LOCAL_MAX_EDGES", str(10**12))
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    stats: dict = {}
    assert _rows(pipeline.connected_components(pairs, stats=stats)) == [
        (1, 1), (2, 1), (3, 1), (4, 1)
    ]
    assert stats["rounds"] >= 1  # 3 edges > ceiling 2: distributed


@pytest.mark.parametrize(
    "edges, nodes, fixed",
    [
        ([(2, 1), (3, 1), (9, 8)], [7], True),   # stars on their minimum
        ([], [7], True),                         # only an edgeless node
        ([(1, 2)], [], False),                   # edge points smaller->larger
        ([(3, 1), (3, 2)], [], False),           # two out-edges
        ([(3, 2), (2, 1)], [], False),           # a target has an out-edge
    ],
    ids=["star_forest", "edgeless", "upward_edge", "two_out_edges", "chain"],
)
def test_star_labels_fixed_point_test(spark, edges, nodes, fixed):
    """The per-node aggregate flags every non-star shape, and on a
    star forest its labels are the components."""
    from pygeoops_spark.text.pipeline import _star_labels

    e = spark.createDataFrame(edges, "u long, v long")
    n = spark.createDataFrame([(x,) for x in nodes], "u long")
    rows = _star_labels(e, n).collect()
    assert all(r["star"] for r in rows) == fixed
    if fixed:
        got = sorted((r["node"], r["component"]) for r in rows)
        assert got == _uf_labels(edges + [(x, x) for x in nodes])


def test_simhash_arrow_kernel_matches_legacy_sql_tree(spark):
    """The r07 Arrow signature kernel must reproduce the retired 64-way
    filter()/size() SQL formulation bit-for-bit (the retired tree is
    inlined here as the reference implementation)."""
    from pygeoops_spark.text.dedup import simhash_sig_expr, word_hash_array

    texts = [
        ("a b c d e f g",),
        ("the quick brown fox jumps over the lazy dog " * 7,),
        ("x",),
        (" ",),
        ("uniçode wörds straße " * 3,),
    ] + [(" ".join(f"w{(i * j) % 23}" for j in range(40)),) for i in range(60)]
    docs = spark.createDataFrame(texts, "text string").withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    d = docs.select(
        "doc_id", word_hash_array("text").alias("_hs")
    ).withColumn("_n", F.size("_hs"))

    def legacy_sig(bits: int = 64):
        def _bit_set(b):
            return lambda x: F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1

        sig = F.lit(0).cast("long")
        for b in range(bits):
            cnt = F.size(F.filter("_hs", _bit_set(b)))
            sig = sig + F.when(
                cnt * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        return sig

    got = _rows(d.select("doc_id", simhash_sig_expr(64).alias("s")))
    want = _rows(d.select("doc_id", legacy_sig(64).alias("s")))
    assert got == want


def test_positional_filter_keeps_every_threshold_pair(spark):
    """Randomized: jaccard_pairs (prefix + PPJoin positional filter)
    must equal the naive all-pairs jaccard at the threshold — the
    positional bound may only drop pairs that PROVABLY cannot reach
    t, never a true pair near the boundary."""
    import itertools
    import random

    rng = random.Random(707)
    vocab = [f"t{v}" for v in range(30)]
    docs_py = []
    for i in range(70):
        if i % 3 == 0 and docs_py:
            # near-dup of an earlier doc: mutate a few words
            base = list(docs_py[rng.randrange(len(docs_py))][1].split())
            for _ in range(rng.randrange(0, 4)):
                base[rng.randrange(len(base))] = rng.choice(vocab)
            docs_py.append((i, " ".join(base)))
        else:
            docs_py.append(
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(6, 25))))
            )
    from pygeoops_spark.text.dedup import jaccard_pairs

    docs = spark.createDataFrame(docs_py, "doc_id long, text string")
    for t in (0.2, 0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, threshold=t).collect()
        }

        def shingles(txt: str) -> set:
            w = txt.split()
            return {" ".join(w[j : j + 3]) for j in range(max(len(w) - 2, 1))}

        want = set()
        for (ia, ta), (ib, tb) in itertools.combinations(docs_py, 2):
            sa, sb = shingles(ta), shingles(tb)
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                want.add((min(ia, ib), max(ia, ib)))
        assert got == want, f"threshold {t}: {got ^ want}"
