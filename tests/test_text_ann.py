"""Tests for the training-data pipeline ops (dedup/similarity/quality/
ANN/multimodal) on the driver testdata."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup(docs):
    from pygeoops_spark.text.dedup import exact_dedup

    out = exact_dedup(docs)
    n = docs.count()
    assert out.agg(F.sum("dup_count")).first()[0] == n
    # distinct texts in this corpus -> every group is a singleton
    assert out.count() == docs.select("text").distinct().count()


def test_jaccard_pairs_sanity(docs):
    from pygeoops_spark.text.dedup import jaccard_pairs

    pairs = jaccard_pairs(docs, n=3, threshold=0.1).collect()
    assert all(0.1 <= r["jaccard"] <= 1.0 for r in pairs)
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_minhash_lsh_finds_high_jaccard_pairs(docs):
    from pygeoops_spark.text.dedup import jaccard_pairs, minhash_lsh_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, n=3, threshold=0.6).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    # verification step guarantees no false positives
    assert lsh <= {
        (r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, n=3, threshold=0.6).collect()
    }
    # recall at j>=0.6 with 8 bands x 4 rows: P(miss) = (1-j^4)^8 < 22%
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.5


def _planted_docs(spark, n_pairs=200, words=40):
    """n_pairs docs of `words` unique tokens, each followed by a copy
    with its first two words replaced: 3-shingle Jaccard 36/40 = 0.9
    per planted pair (2i, 2i+1), and no shingle shared across pairs."""
    rows = []
    for i in range(n_pairs):
        w = [f"w{i}_{j}" for j in range(words)]
        rows.append((2 * i, " ".join(w)))
        rows.append((2 * i + 1, " ".join([f"x{i}_0", f"x{i}_1"] + w[2:])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_permutations_pick_different_minima(spark):
    """Each of the k hash functions must be its own permutation of the
    shingle hashes: the shingle that attains mh_j varies with j. (A
    family without the modulus after the multiply is monotone in x, so
    all k signatures name the same shingle and recall collapses to J.)"""
    from pygeoops_spark.text.dedup import (
        _hash_family,
        minhash_signatures,
        shingle_hash_arrays,
    )

    docs = _planted_docs(spark, n_pairs=1)
    aset = shingle_hash_arrays(docs).where("doc_id = 0").first()["_aset"]
    sig = minhash_signatures(docs, k=32).where("doc_id = 0").first()
    p = (1 << 31) - 1
    argmins = set()
    for j, (a, b) in enumerate(_hash_family(32)):
        h = {x: ((x % p) * (a % p) + b % p) % p for x in aset}
        assert min(h.values()) == sig[f"mh_{j}"]
        argmins.add(min(aset, key=h.__getitem__))
    assert len(argmins) >= 10, f"{len(argmins)} distinct minimizing shingles of 32"


def test_minhash_lsh_planted_pair_recall_meets_theory(spark):
    """8 bands x 4 rows find a pair of Jaccard J with probability
    1-(1-J^4)^8 (0.9998 at J=0.9); planted J=0.9 pairs must meet that
    floor within a small slack, and LSH may report no other pair."""
    from pygeoops_spark.text.dedup import minhash_lsh_pairs

    n_pairs = 200
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            _planted_docs(spark, n_pairs), k=32, bands=8, threshold=0.5
        ).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(n_pairs)}
    floor = 1 - (1 - 0.9**4) ** 8
    assert got <= planted
    assert len(got) / n_pairs >= floor - 0.02


def test_simhash_kernel_null_hash_array_gives_null(spark):
    """A NULL word-hash array yields a NULL signature, not a TypeError
    inside the Arrow kernel; the other rows of the batch are unchanged."""
    from pygeoops_spark.text.dedup import simhash_sig_expr

    d = spark.createDataFrame(
        [(1, None), (2, [1, 2, 3]), (3, []), (4, None)], "doc_id long, _hs array<bigint>"
    ).withColumn("_n", F.size("_hs"))
    got = {r["doc_id"]: r["s"] for r in d.select("doc_id", simhash_sig_expr(64).alias("s")).collect()}
    want = {r["doc_id"]: r["s"] for r in d.where("_hs IS NOT NULL").select(
        "doc_id", simhash_sig_expr(64).alias("s")).collect()}
    assert got[1] is None and got[4] is None
    assert {k: got[k] for k in (2, 3)} == want
    assert want[2] == 3  # bits 0 and 1 are each set in 2 of 3 hashes


def test_simhash_pairs(docs):
    from pygeoops_spark.text.dedup import simhash_pairs, simhash_signatures

    sig = simhash_signatures(docs)
    assert sig.count() == docs.count()
    pairs = simhash_pairs(docs, max_hamming=16)
    for r in pairs.take(5):
        assert r["hamming"] <= 16


def test_quality_and_langid(docs):
    from pygeoops_spark.text.quality import langid, quality_features

    q = quality_features(docs)
    row = q.first()
    assert 0.0 <= row["quality_score"] <= 1.0
    assert row["n_words"] > 0
    li = langid(docs)
    preds = li.groupBy("lang_pred").count().collect()
    assert {r["lang_pred"] for r in preds} <= {"en", "es", "de", "fr", "und"}


def test_repetition_signals_known_values(spark):
    """Gopher/RefinedWeb repetition signals on hand-computed strings."""
    from pygeoops_spark.text.quality import repetition_signals

    rows = [
        # "a b a b a": 5 words, 2 distinct, top 'a' x3; bigrams
        # [a b, b a, a b, b a] -> 2 distinct of 4
        (1, "a b a b a"),
        # all distinct words and bigrams
        (2, "w x y z"),
        # single word: bigram fraction guarded to 0
        (3, "solo"),
        # fully repeated
        (4, "dup dup dup dup"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = repetition_signals("text")
    got = {
        r["doc_id"]: r.asDict()
        for r in df.select("doc_id", *[c.alias(k) for k, c in sig.items()]).collect()
    }
    assert got[1] == {
        "doc_id": 1,
        "n_distinct_words": 2,
        "dup_word_frac": 0.6,
        "top_word_frac": 0.6,
        "dup_2gram_frac": 0.5,
    }
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["dup_2gram_frac"] == 0.0
    assert got[2]["top_word_frac"] == 0.25
    assert got[3] == {
        "doc_id": 3,
        "n_distinct_words": 1,
        "dup_word_frac": 0.0,
        "top_word_frac": 1.0,
        "dup_2gram_frac": 0.0,
    }
    # 3 bigrams, 1 distinct -> (3 - 1) / 3 repeats
    assert got[4] == {
        "doc_id": 4,
        "n_distinct_words": 1,
        "dup_word_frac": 0.75,
        "top_word_frac": 1.0,
        "dup_2gram_frac": 0.666667,
    }


def test_fingerprint_deterministic(docs):
    from pygeoops_spark.text.quality import doc_fingerprint

    a = docs.select("doc_id", doc_fingerprint("text").alias("fp"))
    b = docs.select("doc_id", doc_fingerprint("text").alias("fp2"))
    j = a.join(b, "doc_id")
    assert j.where(F.col("fp") != F.col("fp2")).count() == 0
    assert a.where(F.col("fp") < 0).count() == 0


def test_ann_bruteforce_and_lsh_recall(emb):
    from pygeoops_spark.ann.cosine import cosine_topk_bruteforce, cosine_topk_lsh

    queries = emb.where(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(queries, emb, k=5)
    assert exact.groupBy("query_id").count().where(F.col("count") != 5).count() == 0
    got = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    lsh = cosine_topk_lsh(queries, emb, k=5)
    found = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    assert len(found & got) / len(got) >= 0.3  # approximate, bounded below


def test_ann_ivf_recall(emb):
    from pygeoops_spark.ann.cosine import cosine_topk_bruteforce, cosine_topk_ivf

    queries = emb.where(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_bruteforce(queries, emb, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_ivf(queries, emb, k=5, n_cells=8, nprobe=4).collect()}
    assert len(ivf & exact) / len(exact) >= 0.3


def test_media_features(spark):
    from pygeoops_spark.text.multimodal import extract_features, frame_sample_plan, synth_media

    media = synth_media(spark, 300)
    feats = extract_features(media, dim=8)
    rows = feats.take(3)
    assert all(len(r["feature"]) == 8 for r in rows)
    assert feats.count() == 300
    plan = frame_sample_plan(media, every_ms=10000)
    assert plan.count() > 0
    assert plan.where(F.col("frame_ts_ms") % 10000 != 0).count() == 0


def test_ann_bruteforce_query_cap(emb):
    """The driver-side query collect is guarded: exceeding
    max_query_rows raises instead of OOMing the driver (VERDICT r01)."""
    import pytest as _pytest

    from pygeoops_spark.ann.cosine import cosine_topk_bruteforce

    with _pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_bruteforce(emb, emb, k=2, max_query_rows=10)


def test_ann_ivf_centroids_deterministic_and_assignments_cover(emb):
    """k-means centroids come from a deterministic hash sample: two
    trainings agree exactly, and every target is assigned exactly one
    cell in [0, n_cells)."""
    import numpy as np
    from pyspark.sql import functions as F

    from pygeoops_spark.ann.cosine import _cells_udf, _train_centroids

    c1 = _train_centroids(emb, "vec_id", "embedding", 8)
    c2 = _train_centroids(emb, "vec_id", "embedding", 8)
    assert np.array_equal(c1, c2)
    cells = emb.select(
        _cells_udf(c1, 1)(F.col("embedding"))[0].alias("cell")
    )
    bad = cells.where((F.col("cell") < 0) | (F.col("cell") >= 8)).count()
    assert bad == 0
    n_cells_used = cells.distinct().count()
    assert n_cells_used >= 4  # representative spread, not one mega-cell


def test_jaccard_prefix_filter_prunes_stop_shingles(spark):
    """VERDICT r01: a stop-shingle with high df must not generate df^2
    candidates. 40 docs share one template trigram (df=40) but are
    otherwise unique; the stop shingle sorts last in the rarest-first
    order and falls outside every prefix, so candidate pairs collapse
    from C(40,2)=780 to just the genuinely similar ones — with output
    still exactly matching brute force."""
    import itertools

    import pandas as pd

    from pygeoops_spark.text.dedup import (
        _jaccard_candidates,
        jaccard_pairs,
        shingle_hash_arrays,
    )

    rows = []
    for i in range(40):
        uniq = " ".join(f"w{i}x{j}" for j in range(8))
        rows.append((i, f"{uniq} the quick fox"))
    # two true near-dups (identical text)
    rows.append((100, "alpha beta gamma delta epsilon zeta"))
    rows.append((101, "alpha beta gamma delta epsilon zeta"))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    cands = _jaccard_candidates(
        shingle_hash_arrays(docs, "doc_id", "text", 3), "doc_id", 0.5
    ).count()
    assert cands < 78  # << C(42,2); the df=40 shingle is never indexed

    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }

    # brute force in python
    def shingles(t):
        ws = t.split()
        return {" ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))}

    want = set()
    by_id = {i: shingles(t) for i, t in rows}
    for a, b in itertools.combinations(sorted(by_id), 2):
        inter = len(by_id[a] & by_id[b])
        jac = inter / len(by_id[a] | by_id[b])
        if jac >= 0.5:
            want.add((a, b, round(jac, 6)))
    assert got == want
    assert (100, 101, 1.0) in got


def test_connected_components_alternating_star(spark):
    """Alternating large-star/small-star CC vs python union-find on a
    mixed graph: a 30-node chain (diameter 29 — the shape that killed
    the r01 O(diameter) propagation), a triangle, an isolated edge."""
    import pandas as pd

    from pygeoops_spark.text.pipeline import connected_components

    edges = [(i, i + 1) for i in range(100, 130)]          # chain
    edges += [(200, 201), (201, 202), (200, 202)]          # triangle
    edges += [(300, 301)]                                  # lone edge
    pairs = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
    got = {(r["node"], r["component"]) for r in connected_components(pairs).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {(n, find(n)) for n in parent}
    assert got == want


def test_cosine_dup_pairs_exact_and_guarded(emb):
    from pyspark.sql import functions as F

    from pygeoops_spark.ann.cosine import cosine_dup_pairs

    pairs = cosine_dup_pairs(emb, threshold=0.40)
    rows = pairs.collect()
    assert len(rows) > 0
    assert all(r["id_a"] < r["id_b"] and r["cos_sim"] >= 0.4 - 1e-6 for r in rows)
    # symmetric-dedup: each unordered pair exactly once
    assert len({(r["id_a"], r["id_b"]) for r in rows}) == len(rows)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="LSH-candidate path"):
        cosine_dup_pairs(emb, threshold=0.9, max_rows=10)


def test_jaccard_prefix_filter_matches_bruteforce_randomized(spark):
    """Completeness fuzz for the prefix filter: a seeded random corpus
    with mixed lengths, exact duplicates, shared templates and
    stop-shingles must produce EXACTLY the brute-force pair set at
    several thresholds."""
    import itertools
    import random

    import pandas as pd

    from pygeoops_spark.text.dedup import jaccard_pairs

    rng = random.Random(20260816)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        n_words = rng.randint(4, 25)
        words = [vocab[rng.randrange(len(vocab))] for _ in range(n_words)]
        if i % 7 == 0:
            words += ["the", "quick", "fox"]  # stop-shingle block
        rows.append((i, " ".join(words)))
    rows.append((100, rows[3][1]))  # exact duplicate
    rows.append((101, rows[3][1] + " extra tail words here"))

    def shingles(t):
        ws = t.split()
        return {" ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))}

    by_id = {i: shingles(t) for i, t in rows}
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    for threshold in (0.2, 0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in jaccard_pairs(docs, n=3, threshold=threshold).collect()
        }
        want = set()
        for a, b in itertools.combinations(sorted(by_id), 2):
            inter = len(by_id[a] & by_id[b])
            union = len(by_id[a] | by_id[b])
            if union and inter / union >= threshold:
                want.add((a, b, round(inter / union, 6)))
        assert got == want, f"threshold={threshold}"


def test_ann_empty_inputs_return_empty(spark, emb):
    """Empty query/target frames return empty results instead of
    crashing in the driver-side numpy paths (code-review r02)."""
    from pyspark.sql import functions as F

    from pygeoops_spark.ann.cosine import (
        cosine_dup_pairs,
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    none = emb.where(F.col("vec_id") < 0)
    assert cosine_topk_bruteforce(none, emb, k=3).count() == 0
    assert cosine_topk_ivf(emb.limit(5), none, k=3).count() == 0
    assert cosine_dup_pairs(none, threshold=0.5).count() == 0


def test_null_text_docs_are_dropped_not_paired(spark):
    """NULL-text docs must be absent from signatures/pairs (the
    explode-era semantics): giving them signature 0 would report every
    pair of null docs as an exact near-duplicate."""
    import pandas as pd

    from pygeoops_spark.text.dedup import (
        minhash_signatures,
        simhash_pairs,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": [None, None, "hello world foo bar"]}
        )
    )
    assert simhash_signatures(docs).count() == 1
    assert minhash_signatures(docs).count() == 1
    assert simhash_pairs(docs).count() == 0


def test_dedup_pair_functions_release_caches(spark, docs):
    """VERDICT r02 #7: jaccard_pairs / minhash_lsh_pairs / simhash_pairs
    used to leave their O(corpus) shingle/signature cache persisted per
    call.  Each call may now add at most ONE persistent RDD (the eager
    localCheckpoint of the small result, GC-cleaned with it)."""
    from pygeoops_spark.text.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    for fn, kw in [
        (jaccard_pairs, {"threshold": 0.5}),
        (minhash_lsh_pairs, {"threshold": 0.5}),
        (simhash_pairs, {"max_hamming": 8}),
    ]:
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        res = fn(docs, **kw)
        res.count()
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after - before <= 1, (
            f"{fn.__name__} leaked {after - before} persistent RDDs"
        )


def test_train_centroids_threshold_sample_matches_takeordered(spark, emb):
    """VERDICT r02 #8: the quantizer sample is now a hash-threshold
    filter + local head (no global TakeOrdered).  The selected rows
    must be IDENTICAL to orderBy(_h, _id).limit(n) — the threshold
    keeps a superset of the global minimum set."""
    from pyspark.sql import functions as F

    n = 64  # force the threshold path: 500 rows > 4 * 64
    s = emb.select(
        F.col("vec_id").alias("_id"), F.xxhash64(F.col("vec_id")).alias("_h")
    )
    want = [r["_id"] for r in s.orderBy("_h", "_id").limit(n).collect()]
    cnt = emb.count()
    frac = 4.0 * n / cnt
    thresh = int(-(2**63) + frac * 2.0**64)
    got = (
        s.where(F.col("_h") < F.lit(thresh))
        .toPandas()
        .sort_values(["_h", "_id"])
        .head(n)["_id"]
        .tolist()
    )
    assert got == want


def test_ivf_persisted_index_matches_per_call(spark, emb, tmp_path):
    """Build-once/query-many IVF: the persisted index (parquet
    partitioned by cell + sidecar centroids) must return the same
    (query, neighbor) pairs as the per-call cosine_topk_ivf with
    identical parameters (same deterministic quantizer), the query
    scan must carry a partition filter on cell, and a second query
    batch must reuse the index without rebuilding."""
    from pygeoops_spark.ann.cosine import (
        cosine_topk_ivf,
        ivf_build_index,
        ivf_query_index,
    )

    path = str(tmp_path / "ivf_idx")
    meta = ivf_build_index(
        emb, path, n_cells=16, t_assign=3, train_iters=8
    )
    assert meta["n_cells"] == 16 and meta["dim"] == 64

    queries = emb.where(F.col("vec_id") < 20)
    got = ivf_query_index(spark, path, queries, k=5, nprobe=6)
    ref = cosine_topk_ivf(
        queries, emb, k=5, n_cells=16, nprobe=6, t_assign=3, train_iters=8
    )
    got_pairs = {(r[0], r[1]) for r in got.select("query_id", "neighbor_id").collect()}
    ref_pairs = {(r[0], r[1]) for r in ref.select("query_id", "neighbor_id").collect()}
    assert got_pairs == ref_pairs

    # partition pruning: the index scan plans a PartitionFilters entry
    # on the cell directory column
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    # second batch, no rebuild
    q2 = emb.where((F.col("vec_id") >= 20) & (F.col("vec_id") < 30))
    out2 = ivf_query_index(spark, path, q2, k=5, nprobe=6)
    assert out2.groupBy("query_id").count().count() == 10
