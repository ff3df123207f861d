"""Similarity-search operators: exact baseline self-consistency and recall of
the approximate (SRP-LSH, IVF) scale paths against brute force."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import similarity as SIM
from chat_data_pipeline_spark.operators import store as ST

SF_DIR = os.environ.get("CDP_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def exact_topk(emb, queries):
    rows = SIM.brute_force_topk(emb, queries, k=10).collect()
    by_query: dict[int, set[int]] = {}
    for r in rows:
        by_query.setdefault(r.query_id, set()).add(r.vec_id)
    return by_query


def _recall(approx_rows, exact: dict[int, set[int]]) -> float:
    got: dict[int, set[int]] = {}
    for r in approx_rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(got.get(q, set()) & ids) for q, ids in exact.items())
    total = sum(len(ids) for ids in exact.values())
    return hits / total


def test_brute_force_self_hit(exact_topk):
    # each query vector is in the corpus: it must be its own top hit
    for q, ids in exact_topk.items():
        assert q in ids


def test_ivf_recall(emb, queries, exact_topk):
    rows = SIM.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4).collect()
    assert _recall(rows, exact_topk) >= 0.5
    # rank contract: exactly <= 10 per query, dense from 1
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_deterministic(emb, queries):
    a = sorted(map(tuple, SIM.ivf_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple, SIM.ivf_topk(emb, queries, k=5).collect()))
    assert a == b
    # partition-layout invariance: the centroid sample orders by hash-of-id,
    # so a repartitioned corpus must yield the identical index and results
    c = sorted(map(tuple, SIM.ivf_topk(emb.repartition(7), queries, k=5).collect()))
    assert a == c


def test_ivf_centroids_partition_invariant(emb):
    import numpy as np

    a = SIM._train_centroids(emb, "embedding", 8, id_col="vec_id")
    b = SIM._train_centroids(emb.repartition(13), "embedding", 8, id_col="vec_id")
    assert np.array_equal(a, b)


def test_lsh_recall(emb, queries, exact_topk):
    rows = SIM.lsh_topk(emb, queries, k=10, n_planes=4, n_tables=8).collect()
    assert _recall(rows, exact_topk) >= 0.4  # OR-amplified SRP


def test_neardup_lsh_subset_of_exact(spark, emb):
    exact = {
        (r.id1, r.id2)
        for r in SIM.embedding_neardup_pairs(emb, threshold=0.45).collect()
    }
    approx = {
        (r.id1, r.id2)
        for r in SIM.embedding_neardup_pairs(emb, threshold=0.45, n_planes=6).collect()
    }
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.2


def test_oversized_bucket_does_not_mask_later_table_pairs(spark):
    """A pair whose lowest-table bucket is skipped as oversized must still be
    emitted by a later, small-enough bucket (regression: the cross-table
    dedup used to credit skipped buckets, silently dropping those pairs)."""
    import numpy as np

    from chat_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
        lsh_multitable_buckets,
    )

    rng = np.random.default_rng(7)
    dim, n_planes, n_tables, cap, thr = 16, 2, 4, 8, 0.9
    base = rng.normal(size=dim)
    rows = []
    for i in range(40):  # noisy near-dup cluster -> mixed bucket sizes
        v = base + rng.normal(scale=0.05, size=dim)
        rows.append((i, (v / np.linalg.norm(v)).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from pyspark.sql import functions as F

    blists = {
        r.vec_id: list(r.b)
        for r in df.select(
            "vec_id",
            lsh_multitable_buckets(F.col("embedding"), dim, n_planes, n_tables, 42).alias("b"),
        ).collect()
    }
    sizes = {}
    for bl in blists.values():
        for b in bl:
            sizes[b] = sizes.get(b, 0) + 1
    vecs = dict(rows)

    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    expected = set()
    interesting = 0
    for i in range(40):
        for j in range(i + 1, 40):
            shared = [
                t
                for t in range(n_tables)
                if blists[i][t] == blists[j][t]
            ]
            scored = [t for t in shared if 2 <= sizes[blists[i][t]] <= cap]
            if shared and scored and min(shared) not in scored:
                interesting += 1  # lowest collision skipped, later one scored
            if scored and cos(vecs[i], vecs[j]) >= thr:
                expected.add((i, j))
    # precondition: the regression scenario actually occurs in this corpus
    assert interesting > 0

    got = {
        (min(r.id1, r.id2), max(r.id1, r.id2))
        for r in embedding_neardup_pairs(
            df, threshold=thr, n_planes=n_planes, n_tables=n_tables,
            dim=dim, max_bucket_size=cap,
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (round 4)
# ---------------------------------------------------------------------------


def test_semantic_dedup_drops_planted_near_dups(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(30, 8)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # plant exact clones of ids 0..4 at ids 100..104 (cosine 1.0 > thr)
    for i in range(5):
        rows.append((100 + i, [float(x) for x in base[i]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.semantic_dedup(df, threshold=0.95, n_clusters=4)
    kept = sorted(r.vec_id for r in out.collect())
    # min-id survivor: the originals stay, every planted clone goes
    assert set(range(5)) <= set(kept)
    assert not any(v >= 100 for v in kept)
    assert len(kept) <= 30


def test_semantic_dedup_dropped_transitively_reach_kept(spark):
    """Every dropped row is transitively connected to a kept row through
    cosine-≥-threshold edges WITHIN its cluster — the exact union-find
    contract.  (A direct-witness check is stronger than the operator
    guarantees: in an A-B-C chain the ends dedup without being ≥ thr of each
    other.)  Near-dups are PLANTED, not assumed present in a corpus fixture."""
    import numpy as np

    rng = np.random.RandomState(7)
    thr = 0.9
    n_clusters = 4
    base = rng.randn(30, 8)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # near-clones of ids 0..4 at cosine ~0.9999 — guaranteed drops
    for i in range(5):
        rows.append((100 + i, [float(x) for x in base[i] + 0.01 * rng.randn(8)]))
    # 3-link chain at 20° steps: adjacent cosines ~0.94 ≥ thr, but the ends
    # sit at ~0.77 < thr — a dropped end has NO direct kept witness
    u = np.zeros(8)
    u[0] = 1.0
    w = np.zeros(8)
    w[1] = 1.0
    th = np.deg2rad(20.0)
    for k in range(3):
        v = np.cos(k * th) * u + np.sin(k * th) * w
        rows.append((200 + k, [float(x) for x in 3.0 * v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = SIM.semantic_dedup(df, threshold=thr, n_clusters=n_clusters)
    kept_ids = {r.vec_id for r in out.select("vec_id").collect()}

    ids = np.array([r[0] for r in rows])
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    normed = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
    sims = np.round(normed @ normed.T, 6)
    # cluster assignment exactly as the operator computes it
    cents = SIM._train_centroids(df, "embedding", n_clusters, id_col="vec_id")
    d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cluster = d2.argmin(axis=1)

    dropped = [i for i in range(len(ids)) if ids[i] not in kept_ids]
    assert dropped, "planted near-clones must produce at least one drop"
    for i in dropped:
        seen = {i}
        frontier = [i]
        reached_kept = False
        while frontier and not reached_kept:
            nxt = []
            for a in frontier:
                for b in range(len(ids)):
                    if b in seen or cluster[b] != cluster[a] or sims[a, b] < thr:
                        continue
                    if ids[b] in kept_ids:
                        reached_kept = True
                    seen.add(b)
                    nxt.append(b)
            frontier = nxt
        assert reached_kept, f"dropped {ids[i]} unreachable from any kept row"


def test_semantic_dedup_zero_norm_vectors_kept(spark):
    """All-zero embeddings must not NaN-poison the similarity matrix: they
    score cosine 0 against everything (eps-floored norm) and survive."""
    rows = [(0, [0.0] * 8), (1, [0.0] * 8), (2, [1.0] + [0.0] * 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(r.vec_id for r in SIM.semantic_dedup(df, 0.9, 1).collect())
    assert kept == [0, 1, 2]


def test_semantic_dedup_partitioning_invariant(emb):
    a = sorted(r.vec_id for r in SIM.semantic_dedup(emb, 0.9, 8).collect())
    b = sorted(
        r.vec_id for r in SIM.semantic_dedup(emb.repartition(13), 0.9, 8).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# Product-quantization ADC top-k (round 5)
# ---------------------------------------------------------------------------


def test_pq_recall(emb, queries, exact_topk):
    rows = SIM.pq_topk(emb, queries, k=10, m=8, n_subcentroids=16).collect()
    # 8x1-byte codes over dim-64 vectors: coarser than IVF's full-precision
    # rerank, so the bar is lower — but far above the 10/500 random baseline
    assert _recall(rows, exact_topk) >= 0.4
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_pq_deterministic_and_partition_invariant(emb, queries):
    a = sorted(map(tuple, SIM.pq_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple, SIM.pq_topk(emb.repartition(7), queries, k=5).collect()))
    assert a == b


def test_pq_codes_bounded_and_deterministic(emb):
    import numpy as np

    books = SIM.train_pq_codebooks(emb, "embedding", m=8, k=16, id_col="vec_id")
    assert books.shape == (8, 16, 8)
    codes = {r.vec_id: list(r.pq_code) for r in SIM.pq_encode(emb, books).collect()}
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes.values())
    codes2 = {
        r.vec_id: list(r.pq_code)
        for r in SIM.pq_encode(emb.repartition(5), books).collect()
    }
    assert codes == codes2


def test_pq_self_hit(emb, queries):
    """A query vector that exists in the corpus shares its own PQ codes, so
    its reconstruction error is minimal — it must appear in its own top-10."""
    rows = SIM.pq_topk(emb, queries, k=10).collect()
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    self_hits = sum(1 for q, ids in got.items() if q in ids)
    assert self_hits >= len(got) - 1  # PQ is lossy; allow one miss


# ---------------------------------------------------------------------------
# IVF-PQ (coarse probe pruning x residual compression, round 5)
# ---------------------------------------------------------------------------


def test_ivfpq_recall(emb, queries, exact_topk):
    rows = SIM.ivf_pq_topk(emb, queries, k=10, n_centroids=16, n_probe=4).collect()
    # doubly-approximate (probe pruning AND residual quantization) — the bar
    # sits below flat-PQ's but far above the 10/500 random baseline
    assert _recall(rows, exact_topk) >= 0.3
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivfpq_recall_improves_with_probes(emb, queries, exact_topk):
    """n_probe is the recall/throughput dial: probing every list must do at
    least as well as probing a quarter of them."""
    lo = SIM.ivf_pq_topk(emb, queries, k=10, n_centroids=16, n_probe=4).collect()
    hi = SIM.ivf_pq_topk(emb, queries, k=10, n_centroids=16, n_probe=16).collect()
    assert _recall(hi, exact_topk) >= _recall(lo, exact_topk)


def test_ivfpq_deterministic_and_partition_invariant(emb, queries):
    a = sorted(map(tuple, SIM.ivf_pq_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple, SIM.ivf_pq_topk(emb.repartition(7), queries, k=5).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# PQ oracle twins (round 7): md5 ±1 codebooks — cross-engine value-hash
# parity itself is asserted by the registry sweep in test_oracle_parity.py;
# these lock the twin-local contracts.
# ---------------------------------------------------------------------------


def test_pq_md5_recall_and_rank_contract(emb, queries, exact_topk):
    rows = SIM.pq_topk_md5(emb, queries, k=10).collect()
    # ±1 codebooks are a crude quantizer; the twin exists for cross-engine
    # exactness, but it must still behave like a PQ (better than random:
    # 10 random picks of 500 would land ~0.02 recall)
    assert _recall(rows, exact_topk) >= 0.2
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


@pytest.mark.parametrize("fn", ["pq_topk_md5", "ivf_pq_topk_md5"])
def test_pq_md5_partition_invariant(emb, queries, fn):
    a = sorted(map(tuple, getattr(SIM, fn)(emb, queries, k=5).collect()))
    b = sorted(map(tuple, getattr(SIM, fn)(emb.repartition(7), queries, k=5).collect()))
    assert a == b


@pytest.mark.parametrize("fn", ["pq_topk_md5", "ivf_topk_md5", "ivf_pq_topk_md5"])
def test_pq_md5_dim_mismatch_fails_loudly(spark, queries, fn):
    """A corpus whose vectors disagree with the configured dim must raise in
    the scan, not silently encode garbage (the srp_md5 ADVICE applied)."""
    bad = spark.createDataFrame(
        [(1, [1.0] * 32), (2, [0.5] * 32)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim"):
        getattr(SIM, fn)(bad, queries, k=5).collect()


def test_ivf_pq_md5_probe_pruning_is_real(emb, queries):
    """Raising n_probe must never shrink any query's candidate pool — with
    all 16 lists probed the twin scores the full corpus (scan fraction 1)."""
    lo = SIM.ivf_pq_topk_md5(emb, queries, k=10, n_probe=4).collect()
    hi = SIM.ivf_pq_topk_md5(emb, queries, k=10, n_probe=16).collect()
    lo_scores = sorted(r.approx_cosine for r in lo)
    hi_scores = sorted(r.approx_cosine for r in hi)
    assert len(hi) >= len(lo)
    # the full-probe run dominates: its worst kept score per query is >= the
    # pruned run's (a superset candidate pool can only improve the top-k)
    def worst(rows):
        per_q: dict[int, float] = {}
        for r in rows:
            per_q[r.query_id] = min(per_q.get(r.query_id, 1e9), r.approx_cosine)
        return per_q

    wl, wh = worst(lo), worst(hi)
    assert all(wh[q] >= wl[q] for q in wl)


# ---------------------------------------------------------------------------
# Probe-side broadcast guards (round 6)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "fn",
    ["pq_topk", "ivf_topk", "ivf_pq_topk", "pq_topk_md5", "ivf_topk_md5", "ivf_pq_topk_md5"],
)
def test_ann_query_side_guard_raises_on_oversized_probe_set(emb, queries, fn):
    """The probe set is driver-collected (the PQ / IVF-PQ LUT builds and the
    md5 twins) or broadcast (ivf join): an oversized one must fail with
    guidance, not OOM the driver — the same posture as the exact path's
    max_broadcast_rows."""
    with pytest.raises(ValueError, match="max_query_rows"):
        getattr(SIM, fn)(emb, queries, k=5, max_query_rows=2)


@pytest.fixture(scope="module")
def persisted_roots(emb, tmp_path_factory):
    """One root per persisted flavor, built once for the probe-side tests."""
    base = tmp_path_factory.mktemp("topk_roots")
    roots = {f: str(base / f) for f in ("md5", "kmeans", "md5pq")}
    SIM.build_ivf_index(emb, roots["md5"], n_centroids=16, coarse="md5", dim=64)
    SIM.build_ivf_index(emb, roots["kmeans"], n_centroids=16, coarse="kmeans")
    SIM.build_ivfpq_index(emb, roots["md5pq"], n_centroids=16, m=8, n_codewords=16, dim=64)
    return roots


_TOPK_ENTRY_POINTS = {
    "pq_topk": lambda spark, emb, q, roots: SIM.pq_topk(emb, q, k=5),
    "ivf_pq_topk": lambda spark, emb, q, roots: SIM.ivf_pq_topk(emb, q, k=5),
    "pq_topk_md5": lambda spark, emb, q, roots: SIM.pq_topk_md5(emb, q, k=5),
    "ivf_topk_md5": lambda spark, emb, q, roots: SIM.ivf_topk_md5(emb, q, k=5),
    "ivf_pq_topk_md5": lambda spark, emb, q, roots: SIM.ivf_pq_topk_md5(emb, q, k=5),
    "ivf_topk": lambda spark, emb, q, roots: SIM.ivf_topk(emb, q, k=5),
    "ivf_topk_persisted[md5]": lambda spark, emb, q, roots: SIM.ivf_topk_persisted(
        spark, roots["md5"], q, k=5
    ),
    "ivf_topk_persisted[kmeans]": lambda spark, emb, q, roots: SIM.ivf_topk_persisted(
        spark, roots["kmeans"], q, k=5
    ),
    "ivfpq_topk_persisted": lambda spark, emb, q, roots: SIM.ivfpq_topk_persisted(
        spark, roots["md5pq"], q, k=5
    ),
}


@pytest.mark.parametrize("entry", list(_TOPK_ENTRY_POINTS))
def test_topk_empty_probe_set_returns_no_rows(spark, emb, queries, persisted_roots, entry):
    """An empty probe set is an empty answer on every top-k entry point, not
    a crash: the collected query matrix is always 2-D, so the query-table
    kernels run unchanged on a (0, dim) matrix (a (0,)-shaped one broke the
    trained PQ paths' axis=1 normalization)."""
    empty = queries.filter(F.col("query_id") < 0)
    assert _TOPK_ENTRY_POINTS[entry](spark, emb, empty, persisted_roots).count() == 0


@pytest.mark.parametrize(
    "flavor,refusal",
    [
        ("md5", "max_query_rows"),
        ("kmeans", "max_query_rows"),
        ("md5pq", "max_query_rows"),
        ("md5", "dim"),
        ("md5pq", "dim"),
    ],
)
def test_persisted_probe_refuses_oversized_or_wrong_dim_queries(
    spark, queries, persisted_roots, flavor, refusal
):
    """The persisted probes refuse an oversized probe set and a query width
    other than the index dim before any scan, like the in-flight paths."""
    probe = SIM.ivfpq_topk_persisted if flavor == "md5pq" else SIM.ivf_topk_persisted
    if refusal == "max_query_rows":
        q, kw = queries, {"max_query_rows": 2}
    else:
        q, kw = spark.createDataFrame(
            [(0, [0.5] * 128)], "query_id long, query_vec array<float>"
        ), {}
    with pytest.raises(ValueError, match=refusal):
        probe(spark, persisted_roots[flavor], q, k=5, **kw)


def test_ann_topk_steps_are_written_once():
    """The collect → scan → rank steps of the ANN top-k family live in one
    place each: the global window in ``_rank_topk``, the md5 coarse
    codebook in ``_md5_coarse_book``, the query collect in
    ``_collect_queries``; the separate limit-count guard survives only at
    the broadcast (never collected) probe sites."""
    import ast
    import inspect

    sites: dict[str, list[str]] = {
        "window": [], "coarse": [], "collect": [], "guard": []
    }
    for fn in ast.parse(inspect.getsource(SIM)).body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f, args = node.func, node.args
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "partitionBy" and args and getattr(args[0], "id", None) == "query_id_col":
                sites["window"].append(fn.name)
            if (
                name == "pq_md5_sign_codebooks"
                and len(args) == 4
                and getattr(args[0], "value", None) == 1
                and getattr(args[3], "value", None) == "ivfpq_coarse"
            ):
                sites["coarse"].append(fn.name)
            if name == "toPandas":
                root = f.value
                while isinstance(root, (ast.Call, ast.Attribute)):
                    root = root.func if isinstance(root, ast.Call) else root.value
                if getattr(root, "id", None) == "queries":
                    sites["collect"].append(fn.name)
            if name == "_guard_query_rows":
                sites["guard"].append(fn.name)
    assert sites["window"] == ["_rank_topk"]
    assert sites["coarse"] == ["_md5_coarse_book"]
    assert sites["collect"] == ["_collect_queries"]
    assert sorted(sites["guard"]) == [
        "brute_force_topk", "ivf_topk", "ivf_topk_persisted", "lsh_topk"
    ]


def test_ivf_topk_zero_vector_scores_zero_not_nan(spark, emb, queries):
    """A zero corpus vector must score cosine 0 (bottom of the ranking), not
    NaN — Spark's descending sort treats NaN as GREATEST, so an unfloored
    norm would put a garbage vector at rank 1 for every query."""
    zero = spark.createDataFrame([(99999, [0.0] * 64)], "vec_id long, embedding array<float>")
    corpus = emb.select("vec_id", "embedding").unionByName(zero)
    rows = SIM.ivf_topk(corpus, queries, k=5, n_centroids=8, n_probe=8).collect()
    assert all(r.vec_id != 99999 for r in rows)
    assert all(not (r.cosine != r.cosine) for r in rows)  # no NaN survives


# ---------------------------------------------------------------------------
# Hard-negative mining (round 6)
# ---------------------------------------------------------------------------


def test_hard_negatives_match_numpy_oracle(emb):
    import numpy as np

    rows = SIM.hard_negatives_topk(emb, k=5).collect()
    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.maximum(np.sqrt((mat * mat).sum(axis=1)), 1e-12)
    sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
    want = set()
    for i in range(len(ids)):
        valid = labels != labels[i]
        s, vid, vlab = sims[i][valid], ids[valid], labels[valid]
        for rank, j in enumerate(np.lexsort((vid, -s))[:5], start=1):
            want.add((ids[i], labels[i], vid[j], vlab[j], s[j], rank))
    got = {
        (r.anchor_id, r.anchor_label, r.neg_id, r.neg_label, r.cosine, r.rank)
        for r in rows
    }
    assert got == want


def test_hard_negatives_cross_label_and_partition_invariant(emb):
    rows = SIM.hard_negatives_topk(emb, k=3).collect()
    assert rows and all(r.anchor_label != r.neg_label for r in rows)
    assert all(r.anchor_id != r.neg_id for r in rows)
    a = sorted(map(tuple, rows))
    b = sorted(map(tuple, SIM.hard_negatives_topk(emb.repartition(7), k=3).collect()))
    assert a == b


def test_hard_negatives_guard_raises(emb):
    """Both exact broadcast paths refuse a corpus over ``max_broadcast_rows``
    from their one bounded collect, before anything is broadcast."""
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        SIM.hard_negatives_topk(emb, k=3, max_broadcast_rows=10)
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        SIM.embedding_neardup_pairs(emb, max_broadcast_rows=10)


def test_hard_negatives_ivf_recall_and_contract(emb):
    """The IVF-blocked miner keeps the exact miner's contract (cross-label,
    rank order, dedup-free candidates) and recalls most true impostors even
    at a 3/16 scan fraction; full probing recovers the exact answer."""
    exact = {
        (r.anchor_id, r.neg_id)
        for r in SIM.hard_negatives_topk(emb, k=5).collect()
    }
    approx_rows = SIM.hard_negatives_topk_ivf(emb, k=5, n_centroids=16, n_probe=3).collect()
    approx = {(r.anchor_id, r.neg_id) for r in approx_rows}
    assert all(r.anchor_label != r.neg_label for r in approx_rows)
    # no duplicate (anchor, rank) — candidates were generated once
    assert len({(r.anchor_id, r.rank) for r in approx_rows}) == len(approx_rows)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # probing every list = exact scan: identical pair set
    full_rows = SIM.hard_negatives_topk_ivf(emb, k=5, n_centroids=8, n_probe=8).collect()
    assert {(r.anchor_id, r.neg_id, r.cosine, r.rank) for r in full_rows} == {
        (r.anchor_id, r.neg_id, r.cosine, r.rank)
        for r in SIM.hard_negatives_topk(emb, k=5).collect()
    }


def test_srp_md5_twin_subset_and_recall(emb):
    """The md5-plane twin's pairs are a SUBSET of the exact >=0.45 set with
    identical 6-dp cosines (LSH can miss, never invent), and 3 planes x 6
    tables recall most of it (measured 14/14 on the sf0.01 gate corpus the
    driver row runs at)."""
    exact = {
        (r.id1, r.id2): r.cosine
        for r in SIM.embedding_neardup_pairs(emb, threshold=0.45).collect()
    }
    twin = {
        (r.id1, r.id2): r.cosine
        for r in SIM.embedding_neardup_pairs_srp_md5(
            emb, threshold=0.45, n_planes=3, n_tables=6
        ).collect()
    }
    assert set(twin) <= set(exact)
    assert all(twin[p] == exact[p] for p in twin)
    assert len(twin) >= 0.7 * len(exact), (len(twin), len(exact))


def test_srp_md5_planes_deterministic():
    from chat_data_pipeline_spark.operators.similarity import srp_md5_sign_planes

    a = srp_md5_sign_planes(8, 2, 2)
    assert a == srp_md5_sign_planes(8, 2, 2)
    assert all(v in (1.0, -1.0) for t in a for p in t for v in p)
    assert a[0] != a[1]  # tables are independent plane sets


def test_ivf_md5_recall_and_partition_invariance(emb, queries, exact_topk):
    """The IVF twin scores full-precision cosine inside probed lists, so its
    recall should be solid (only probe misses cost hits), and the fused
    Arrow scan must be partition-invariant."""
    rows = SIM.ivf_topk_md5(emb, queries, k=10, n_probe=4).collect()
    assert _recall(rows, exact_topk) >= 0.4
    a = sorted(map(tuple, rows))
    b = sorted(map(tuple, SIM.ivf_topk_md5(emb.repartition(7), queries, k=10, n_probe=4).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Round-10 review hardening: zero-norm floors everywhere, guard parity,
# trainer sample scaling, dim guards
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("fn", ["brute_force_topk", "lsh_topk"])
def test_topk_zero_vector_scores_zero_not_nan(spark, emb, queries, fn):
    """brute_force_topk / lsh_topk divide by norm_expr: a zero corpus vector
    must score cosine 0 (floored norm), never DIVIDE_BY_ZERO under Spark's
    ANSI default or a NaN that sorts rank-1 — the convention already pinned
    for ivf_topk."""
    zero = spark.createDataFrame(
        [(99999, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(zero)
    rows = getattr(SIM, fn)(corpus, queries, k=5).collect()
    assert rows
    assert all(r.vec_id != 99999 for r in rows)
    assert all(not (r.cosine != r.cosine) for r in rows)  # no NaN survives


def test_neardup_exact_zero_vector_pairs_not_dropped_by_nan(spark):
    """The exact all-pairs scorer floors norms: with threshold <= 0 a zero
    vector pairs with everything at cosine 0.0 instead of vanishing as NaN."""
    rows = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = SIM.embedding_neardup_pairs(rows, threshold=-1.0).collect()
    pairs = {(r.id1, r.id2): r.cosine for r in got}
    assert pairs[(1, 2)] == 0.0 and pairs[(1, 3)] == 0.0
    assert all(c == c for c in pairs.values())  # no NaN anywhere


@pytest.mark.parametrize("fn", ["brute_force_topk", "lsh_topk"])
def test_topk_query_side_guard_raises_on_oversized_probe_set(emb, queries, fn):
    """The two oldest ANN entry points broadcast the probe side like the
    rest of the family — same oversized-probe guard, same guidance."""
    with pytest.raises(ValueError, match="max_query_rows"):
        getattr(SIM, fn)(emb, queries, k=5, max_query_rows=2)


def test_pq_topk_query_dim_mismatch_fails_loudly(spark, emb):
    """A wider query matrix must raise, not silently score from a prefix of
    each query vector (the md5 twin's guard, now on the production path)."""
    wide = spark.createDataFrame(
        [(0, [0.5] * 128)], "query_id long, query_vec array<float>"
    )
    with pytest.raises(Exception, match="dim"):
        SIM.pq_topk(emb, wide, k=3).count()


def test_pq_encode_corpus_dim_mismatch_fails_loudly(spark, emb):
    import numpy as np

    books = SIM.train_pq_codebooks(emb, "embedding", m=8, k=4)
    bad = spark.createDataFrame(
        [(0, [0.5] * 32)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim"):
        SIM.pq_encode(bad, books).collect()


def test_train_centroids_sample_scales_with_request(spark, emb):
    """A fixed 10k sample silently caps the trained centroid count at 10k;
    the default now scales (max(10k, 8*n)) so the derived-cluster contract
    in semantic_dedup holds, and an untrainable request fails with
    guidance."""
    with pytest.raises(ValueError, match="MAX_DRIVER_CENTROIDS"):
        SIM._train_centroids(emb, "embedding", SIM.MAX_DRIVER_CENTROIDS + 1)


def test_assign_nearest_chunked_matches_unchunked():
    import numpy as np

    rng = np.random.RandomState(7)
    mat = rng.randn(503, 16)
    cent = rng.randn(11, 16)
    full = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    # row_budget forcing ~3-row chunks must give bit-identical assignments
    chunked = SIM._assign_nearest(mat, cent, row_budget=600)
    assert (full == chunked).all()


def test_ivf_assign_expr_empty_batch_safe(spark, emb):
    """An empty Arrow batch reaching the IVF assigner must be skipped, not
    AxisError — pipelined upstream stages can emit empty frames."""
    import numpy as np

    cent = SIM._train_centroids(emb.limit(50), "embedding", 4)
    empty = emb.filter(F.col("vec_id") < 0)  # 0 rows, real schema
    assert SIM._ivf_assign_expr(empty, "embedding", cent, "__lists__", 1).count() == 0


# --- persisted IVF index (r12) ----------------------------------------------


def test_ivf_persisted_md5_matches_build_and_probe(spark, emb, queries, tmp_path):
    """Load-and-probe over the persisted index is bit-identical to the
    self-contained oracle twin (same coarse assignment, fold cosine, and
    rank tie-break arithmetic end to end)."""
    idx = str(tmp_path / "ivf_md5")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    want = sorted(
        map(tuple, SIM.ivf_topk_md5(emb, queries, k=10, n_centroids=16, n_probe=4).collect())
    )
    got = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    assert got == want and len(got) > 0


def test_ivf_persisted_kmeans_matches_build_and_probe(spark, emb, queries, tmp_path):
    """The kmeans flavor round-trips its trained centroids through parquet
    (array<double> is exact) and reproduces ivf_topk byte-for-byte."""
    idx = str(tmp_path / "ivf_km")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="kmeans", seed=42)
    want = sorted(
        map(
            tuple,
            SIM.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=3, seed=42).collect(),
        )
    )
    got = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=3).collect())
    )
    assert got == want and len(got) > 0


def test_ivf_persisted_rebuild_is_idempotent(spark, emb, queries, tmp_path):
    """A replayed build (foreachBatch-retry posture, the sketch-store
    discipline) overwrites every artifact in place: the index serves the
    same answers and the postings tree holds ONE hive layout, not a
    double-append."""
    idx = str(tmp_path / "ivf_twice")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    first = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    n_rows_first = spark.read.parquet(f"{idx}/postings").count()
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    second = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    assert second == first
    assert spark.read.parquet(f"{idx}/postings").count() == n_rows_first


def test_ivf_persisted_probe_prunes_partitions(spark, emb, queries, tmp_path):
    """The probe's literal IN filter on the partition column must prune at
    the file LISTING: the pruned scan reads only the probed lists'
    directories — the n_probe/n_centroids scan fraction that makes a
    persisted index worth building at 100 TB."""
    import glob
    import os

    idx = str(tmp_path / "ivf_prune")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    postings = spark.read.parquet(f"{idx}/postings")
    pruned = postings.filter(F.col("list").isin([0, 1, 2, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "PartitionFilters: [list#" in scan  # partition-level, and
    assert "DataFilters: []" in scan  # nothing left for row-level filtering
    kept = pruned.count()
    assert 0 < kept < postings.count()

    # decisive end-to-end proof: corrupt every data file OUTSIDE the probed
    # lists — the pruned scan must never open them, a full scan must fail
    for f in glob.glob(f"{idx}/postings/batch=*/list=*/part-*"):
        if f.split("/list=")[1].split("/")[0] not in {"0", "1", "2", "3"}:
            with open(f, "wb") as fh:
                fh.write(b"not parquet")
    fresh = spark.read.parquet(f"{idx}/postings")
    assert fresh.filter(F.col("list").isin([0, 1, 2, 3])).count() == kept
    with pytest.raises(Exception):
        fresh.count()
    assert os.path.isdir(f"{idx}/meta")


def test_extend_ivf_index_matches_full_rebuild(spark, emb, queries, tmp_path):
    """Incremental maintenance: build on half the corpus, extend with the
    other half — the probe answers over base + extension are bit-identical
    to a full rebuild over the union (same coarse arithmetic both paths)."""
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    # md5 flavor: extension assigns with the literal codebook, so the
    # incremental index must equal a full rebuild over the union exactly
    idx_inc = str(tmp_path / "ivf_inc")
    idx_full = str(tmp_path / "ivf_full")
    SIM.build_ivf_index(half_a, idx_inc, n_centroids=16, coarse="md5", dim=64)
    SIM.extend_ivf_index(half_b, idx_inc, batch_id=1)
    SIM.build_ivf_index(emb, idx_full, n_centroids=16, coarse="md5", dim=64)
    got = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx_inc, queries, k=10, n_probe=4).collect())
    )
    want = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx_full, queries, k=10, n_probe=4).collect())
    )
    assert got == want and len(got) > 0
    # kmeans flavor: the extension assigns with the PERSISTED centroids
    # (not a retrain), so how a delivery is batched cannot matter — one
    # extension with all of half_b equals two extensions covering it, and
    # the extended probe actually surfaces extension rows
    idx_one = str(tmp_path / "ivf_km_one")
    idx_two = str(tmp_path / "ivf_km_two")
    for p in (idx_one, idx_two):
        SIM.build_ivf_index(half_a, p, n_centroids=8, coarse="kmeans", seed=42)
    SIM.extend_ivf_index(half_b, idx_one, batch_id=1)
    SIM.extend_ivf_index(half_b.filter(F.col("vec_id") % 4 == 1), idx_two, batch_id=1)
    SIM.extend_ivf_index(half_b.filter(F.col("vec_id") % 4 == 3), idx_two, batch_id=2)
    got_km = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx_one, queries, k=10, n_probe=3).collect())
    )
    want_km = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx_two, queries, k=10, n_probe=3).collect())
    )
    assert got_km == want_km and len(got_km) > 0
    # odd query ids live only in the extension batches — self-hit at rank 1
    # proves the probe really reads them
    odd_hits = {
        (r.query_id, r.vec_id) for r in SIM.ivf_topk_persisted(
            spark, idx_two, queries, k=1, n_probe=3
        ).collect()
    }
    assert any(q % 2 == 1 and q == v for q, v in odd_hits)


def test_extend_ivf_index_replayed_delivery_is_idempotent(spark, emb, queries, tmp_path):
    """A replayed extension batch (foreachBatch-retry posture) overwrites
    its own batch partition — row counts and probe answers unchanged — and
    a REBUILD of the base clears stale extensions instead of serving them."""
    idx = str(tmp_path / "ivf_replay")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    SIM.build_ivf_index(half_a, idx, n_centroids=16, coarse="md5", dim=64)
    SIM.extend_ivf_index(half_b, idx, batch_id=1)
    n1 = spark.read.parquet(f"{idx}/postings").count()
    first = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    SIM.extend_ivf_index(half_b, idx, batch_id=1)  # replay
    assert spark.read.parquet(f"{idx}/postings").count() == n1
    again = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    assert again == first
    # rebuild clears extensions: only the base remains
    SIM.build_ivf_index(half_a, idx, n_centroids=16, coarse="md5", dim=64)
    batches = {
        r.batch for r in spark.read.parquet(f"{idx}/postings").select("batch").distinct().collect()
    }
    assert batches == {"base"}


def test_ivf_drift_report_flags_a_drifted_delivery(spark, emb, tmp_path):
    """r13 index-health diagnostic: a base build reads balanced occupancy
    and a snug mean assign score; a deliberately drifted delivery (every
    vector a clone of one base vector -> one hot list; all-ones vectors ->
    poor fold-dot fit) must move BOTH signals, giving the documented
    rebuild threshold something real to fire on."""
    idx = str(tmp_path / "drift_idx")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)

    one = emb.orderBy("vec_id").limit(1).collect()[0]
    hot = spark.createDataFrame(
        [(10_000 + i, list(one.embedding)) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    SIM.extend_ivf_index(hot, idx, batch_id="hot")
    # a one-hot spike normalizes to e_0, whose dot with ANY +/-1 row is
    # exactly +/-1 -> assign score <= 1e9, provably below the base mean
    spike = spark.createDataFrame(
        [(20_000 + i, [1.0] + [0.0] * 63) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    SIM.extend_ivf_index(spike, idx, batch_id="spike")

    rep = {r.batch: r for r in SIM.ivf_index_drift_report(spark, idx).collect()}
    assert set(rep) == {"base", "hot", "spike"}
    base, hot_r, spike_r = rep["base"], rep["hot"], rep["spike"]
    assert base.n_vectors == emb.count() and hot_r.n_vectors == 64

    # clone-hot delivery: every vector in ONE list -> skew pegs at
    # n_centroids x 1e9 while the base sits near uniform
    assert hot_r.n_lists_used == 1
    assert hot_r.occupancy_skew_nanos == 16 * 1_000_000_000
    assert base.occupancy_skew_nanos < 4 * 1_000_000_000

    # spike delivery: one-hot vectors cap the fold-dot at 1.0 while the
    # base corpus averages well above it — the fit signal moves down
    assert spike_r.mean_assign_score_micros <= 1_000_000
    assert spike_r.mean_assign_score_micros < base.mean_assign_score_micros

    # kmeans flavor exercises the centroid-distance scoring path
    idx_km = str(tmp_path / "drift_idx_km")
    SIM.build_ivf_index(emb, idx_km, n_centroids=8, coarse="kmeans", seed=42)
    SIM.extend_ivf_index(hot, idx_km, batch_id="hot")
    rep_km = {r.batch: r for r in SIM.ivf_index_drift_report(spark, idx_km).collect()}
    assert rep_km["hot"].n_lists_used == 1
    assert rep_km["hot"].occupancy_skew_nanos == 8 * 1_000_000_000
    # scores are negative squared distances: snug base > drifted... the hot
    # clones ARE real corpus vectors, so instead assert the score scale is
    # sane (non-positive) and deterministic across two report runs
    again = {r.batch: r for r in SIM.ivf_index_drift_report(spark, idx_km).collect()}
    assert {b: r.mean_assign_score_micros for b, r in rep_km.items()} == {
        b: r.mean_assign_score_micros for b, r in again.items()
    }
    assert all(r.mean_assign_score_micros <= 0 for r in rep_km.values())


def test_uncommitted_ivf_extension_is_invisible_to_probes(spark, emb, queries, tmp_path):
    """Same crash-consistency contract as the text index: a delivery whose
    commit marker never landed (crash mid-write) must be invisible to
    probes AND to the drift report; a replay re-commits it bit-identically."""
    import shutil

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf_crash")
    SIM.build_ivf_index(half_a, idx, n_centroids=16, coarse="md5", dim=64)
    base_only = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    SIM.extend_ivf_index(half_b, idx, batch_id=1)
    full = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    assert full != base_only
    os.remove(f"{idx}/batches/1")
    assert (
        sorted(
            map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
        )
        == base_only
    )
    assert {r.batch for r in SIM.ivf_index_drift_report(spark, idx).collect()} == {
        "base"
    }
    SIM.extend_ivf_index(half_b, idx, batch_id=1)  # replay re-commits
    assert (
        sorted(
            map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
        )
        == full
    )


def test_compact_ivf_index_bit_identical_probes(spark, emb, queries, tmp_path):
    """IVF compaction folds committed deliveries into one base with the
    posting SET unchanged (assignments were made with the index's own
    coarse arithmetic at delivery time) — probes bit-identical, ledger
    reset, drift report sees a single base batch."""
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf_lsm")
    SIM.build_ivf_index(half_a, idx, n_centroids=16, coarse="md5", dim=64)
    SIM.extend_ivf_index(half_b, idx, batch_id=1)
    want = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    SIM.compact_ivf_index(spark, idx)
    got = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    assert got == want
    rep = SIM.ivf_index_drift_report(spark, idx).collect()
    assert {r.batch for r in rep} == {"base"}
    assert rep[0].n_vectors == emb.count()

    # kmeans flavor carries its centroids through the compaction
    idx_km = str(tmp_path / "ivf_lsm_km")
    SIM.build_ivf_index(half_a, idx_km, n_centroids=8, coarse="kmeans", seed=42)
    SIM.extend_ivf_index(half_b, idx_km, batch_id=1)
    want_km = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx_km, queries, k=10, n_probe=3).collect())
    )
    dst = str(tmp_path / "ivf_lsm_km_v2")
    SIM.compact_ivf_index(spark, idx_km, dst_index=dst)
    got_km = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, dst, queries, k=10, n_probe=3).collect())
    )
    assert got_km == want_km
    # and the compacted index still accepts deliveries (centroids intact)
    SIM.extend_ivf_index(half_b.limit(5), dst, batch_id="post-compact")


def test_ivf_rebuild_crash_leaves_no_servable_meta(spark, emb, queries, tmp_path):
    """Same rebuild-crash posture as the text index (r13 ADVICE): meta is
    deleted FIRST in build_ivf_index / compact_ivf_index, so a crash
    inside the rebuild window fails probes loudly instead of silently
    merging a partial new base with the old ledger's extension state."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from chat_data_pipeline_spark.operators.store import invalidate_index_meta

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "ivf_rebuild_crash")
    SIM.build_ivf_index(half_a, idx, n_centroids=16, coarse="md5", dim=64)
    SIM.extend_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id=1)
    assert SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).count() > 0

    invalidate_index_meta(spark, idx)
    with _pytest.raises((AnalysisException, Py4JJavaError)):
        SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect()

    # a completed rebuild restores service bit-identically to a fresh build
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    clean = str(tmp_path / "ivf_clean")
    SIM.build_ivf_index(emb, clean, n_centroids=16, coarse="md5", dim=64)
    assert sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    ) == sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, clean, queries, k=10, n_probe=4).collect())
    )


def test_rebuild_ivf_index_recovers_drift(spark, emb, queries, tmp_path):
    """r13 verdict item 5: the drift report diagnoses a drifted quantizer;
    rebuild_ivf_index repairs it.  A deliberately shifted delivery lands
    far from every base centroid (mean assign fit collapses, the hottest
    list balloons); a coarse-retrain over base+committed postings into a
    fresh root (write-then-swap) recovers the fit signal and relaxes the
    skew."""
    base = emb.filter(F.col("vec_id") % 2 == 0)
    # the drifted delivery: every coordinate shifted by a constant the base
    # mixture never saw — the classic new-domain onboarding drift
    drifted = emb.filter(F.col("vec_id") % 2 == 1).withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(7.5))
    )
    idx = str(tmp_path / "ivf_drift_src")
    SIM.build_ivf_index(base, idx, n_centroids=8, coarse="kmeans")
    SIM.extend_ivf_index(drifted, idx, batch_id="b1")
    before = {
        r.batch: r for r in SIM.ivf_index_drift_report(spark, idx).collect()
    }
    assert set(before) == {"b1", "base"}
    # the drifted delivery's fit is far below the base's (kmeans fit is
    # -squared-L2 in micros: higher = snugger)
    assert before["b1"].mean_assign_score_micros < before["base"].mean_assign_score_micros

    dst = str(tmp_path / "ivf_drift_dst")
    SIM.rebuild_ivf_index(spark, idx, dst_index=dst)
    after = {r.batch: r for r in SIM.ivf_index_drift_report(spark, dst).collect()}
    assert set(after) == {"base"}  # one fresh base, ledger reset
    # the retrained quantizer fits the union better than the old one fit
    # the drifted half
    assert (
        after["base"].mean_assign_score_micros
        > before["b1"].mean_assign_score_micros
    )
    # every vector survived the cutover
    assert after["base"].n_vectors == before["base"].n_vectors + before["b1"].n_vectors
    # the rebuilt index serves probes (fresh root is complete + committed)
    assert SIM.ivf_topk_persisted(spark, dst, queries, k=5, n_probe=3).count() > 0
    # ...and the OLD root kept serving untouched throughout (write-then-swap)
    assert {r.batch for r in SIM.ivf_index_drift_report(spark, idx).collect()} == {
        "b1", "base"
    }


def test_rebuild_ivf_index_md5_probes_bit_exact(spark, emb, queries, tmp_path):
    """md5 flavor: the coarse codebook is a deterministic literal, so an
    in-place rebuild at the same n_centroids is assignment-identical to a
    compaction — probes BIT-EXACT before and after, ledger reset."""
    from chat_data_pipeline_spark.operators.store import committed_batches

    idx = str(tmp_path / "ivf_md5_rebuild")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, n_centroids=16, coarse="md5", dim=64
    )
    SIM.extend_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id=1)
    want = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    SIM.rebuild_ivf_index(spark, idx)  # in place
    got = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    assert got == want
    assert committed_batches(spark, idx) == ["base"]


# ---------------------------------------------------------------------------
# tombstone deletes (r14): the ANN half of the takedown story — probes
# anti-join the ledger-committed tombstone set; compaction/rebuild make the
# removal physical; the retrain never learns from deleted vectors
# ---------------------------------------------------------------------------


def _pp(spark, idx, queries, n_probe=4):
    return sorted(
        map(
            tuple,
            SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=n_probe).collect(),
        )
    )


def test_delete_from_ivf_index_matches_retained_build(spark, emb, queries, tmp_path):
    """Probes after a delete are bit-identical to a fresh build over the
    retained vectors (md5 flavor: the assignment arithmetic is shared, so
    exactness is checkable end to end)."""
    idx = str(tmp_path / "ivf_del")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    SIM.extend_ivf_index(emb.limit(0), idx, batch_id="noop")  # ledger exercise
    victims = emb.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    ST.tombstone_delete(spark, idx, victims, batch_id="takedown-1")
    fresh = str(tmp_path / "ivf_retained")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 5 != 2), fresh, n_centroids=16, coarse="md5", dim=64
    )
    got, want = _pp(spark, idx, queries), _pp(spark, fresh, queries)
    assert got == want and len(got) > 0


def test_ivf_delete_crash_sim_and_guard(spark, emb, queries, tmp_path):
    """An uncommitted delete is invisible; a committed one blocks deliveries
    of the same ids until compaction clears the tombstones."""
    import os

    idx = str(tmp_path / "ivf_crash")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    before = _pp(spark, idx, queries)
    victims = emb.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    ST.tombstone_delete(spark, idx, victims, batch_id="d1")
    after = _pp(spark, idx, queries)
    assert after != before
    os.remove(f"{idx}/batches/d1")
    assert _pp(spark, idx, queries) == before
    ST.tombstone_delete(spark, idx, victims, batch_id="d1")
    assert _pp(spark, idx, queries) == after
    with pytest.raises(ValueError, match="tombstoned"):
        SIM.extend_ivf_index(emb.filter(F.col("vec_id") % 5 == 2), idx, batch_id="b1")
    # compaction makes the delete physical, clears tombstones, keeps probes
    SIM.compact_ivf_index(spark, idx)
    assert _pp(spark, idx, queries) == after
    assert not os.path.exists(f"{idx}/tombstones")
    left = {
        r[0]
        for r in spark.read.parquet(f"{idx}/postings").select("vec_id").collect()
    }
    assert not {r.vec_id for r in victims.collect()} & left
    # re-delivery is legal again
    SIM.extend_ivf_index(emb.filter(F.col("vec_id") % 5 == 2), idx, batch_id="b2")
    restored = str(tmp_path / "ivf_restored")
    SIM.build_ivf_index(emb, restored, n_centroids=16, coarse="md5", dim=64)
    assert _pp(spark, idx, queries) == _pp(spark, restored, queries)


def test_ivf_rebuild_after_delete_excludes_victims(spark, emb, queries, tmp_path):
    """The drift-repair rebuild must not re-learn deleted vectors: the
    kmeans retrain's union excludes tombstones, the rebuilt root is
    physically clean, and probes match a fresh build over the retained
    set."""
    idx = str(tmp_path / "ivf_reb_del")
    SIM.build_ivf_index(emb, idx, n_centroids=8, coarse="kmeans", seed=42)
    victims = emb.filter(F.col("vec_id") % 3 == 1).select("vec_id")
    ST.tombstone_delete(spark, idx, victims, batch_id="d1")
    SIM.rebuild_ivf_index(spark, idx)
    import os

    assert not os.path.exists(f"{idx}/tombstones")
    fresh = str(tmp_path / "ivf_reb_fresh")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 3 != 1), fresh, n_centroids=8, coarse="kmeans", seed=42
    )
    got = _pp(spark, idx, queries, n_probe=3)
    want = _pp(spark, fresh, queries, n_probe=3)
    assert got == want and len(got) > 0


def test_failed_ivf_rebuild_request_leaves_root_servable(spark, emb, queries, tmp_path):
    """r14 review: flavor validation and the kmeans retrain run BEFORE the
    live root's meta is invalidated — a typo'd coarse kind must raise
    without bricking a serving index."""
    idx = str(tmp_path / "ivf_guarded")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    before = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    with pytest.raises(ValueError, match="coarse"):
        SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="kmean", dim=64)
    after = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    assert after == before  # still serving, bit-identical
    # cross-kind batch-id guard on the ANN side
    SIM.extend_ivf_index(emb.limit(3), idx, batch_id="b1")
    with pytest.raises(ValueError, match="extension delivery"):
        ST.tombstone_delete(
            spark, idx, emb.limit(1).select("vec_id"), batch_id="b1"
        )


# ---------------------------------------------------------------------------
# persisted IVF-PQ index (r14): the compressed store — codes only, no raw
# vectors; probes bit-identical to the in-flight oracle twin
# ---------------------------------------------------------------------------


def _ppq(spark, idx, queries, n_probe=4):
    return sorted(
        map(
            tuple,
            SIM.ivfpq_topk_persisted(
                spark, idx, queries, k=10, n_probe=n_probe
            ).collect(),
        )
    )


def test_ivfpq_persisted_matches_in_flight_twin(spark, emb, queries, tmp_path):
    """The persisted compressed probe replays ivf_pq_topk_md5 bit-for-bit:
    codes assigned at build with the twin's arithmetic, scores folded in
    the twin's exact base+LUT order — and the store holds NO raw vectors."""
    idx = str(tmp_path / "ivfpq_idx")
    SIM.build_ivfpq_index(emb, idx, n_centroids=16, m=8, n_codewords=16, dim=64)
    got = _ppq(spark, idx, queries)
    want = sorted(
        map(
            tuple,
            SIM.ivf_pq_topk_md5(emb, queries, k=10, n_centroids=16, n_probe=4).collect(),
        )
    )
    assert got == want and len(got) > 0
    cols = set(spark.read.parquet(f"{idx}/postings").columns)
    assert "embedding" not in cols and "pq_code" in cols  # lossy by design


def test_ivfpq_persisted_lifecycle(spark, emb, queries, tmp_path):
    """extend ≡ union build, delete hides victims, compaction folds batches
    bit-identically, rebuild refuses the lossy store with guidance."""
    import os

    idx = str(tmp_path / "ivfpq_life")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, n_centroids=16, m=8,
        n_codewords=16, dim=64,
    )
    SIM.extend_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id="b1")
    union = str(tmp_path / "ivfpq_union")
    SIM.build_ivfpq_index(emb, union, n_centroids=16, m=8, n_codewords=16, dim=64)
    assert _ppq(spark, idx, queries) == _ppq(spark, union, queries)

    victims = emb.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    ST.tombstone_delete(spark, idx, victims, batch_id="take")
    retained = str(tmp_path / "ivfpq_retained")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 != 2), retained, n_centroids=16, m=8,
        n_codewords=16, dim=64,
    )
    after_del = _ppq(spark, idx, queries)
    assert after_del == _ppq(spark, retained, queries)

    SIM.compact_ivf_index(spark, idx)
    assert _ppq(spark, idx, queries) == after_del
    assert not os.path.exists(f"{idx}/tombstones")
    left = {
        r.vec_id
        for r in spark.read.parquet(f"{idx}/postings").select("vec_id").collect()
    }
    assert not {r.vec_id for r in victims.collect()} & left

    with pytest.raises(ValueError, match="lossy"):
        SIM.rebuild_ivf_index(spark, idx)


def test_extend_ivf_and_ivfpq_refuse_wrong_id_type(spark, emb, tmp_path):
    """r14 ADVICE: both vector stores refuse a delivery whose id column's
    type differs from the base postings' — at delivery, not at probe."""
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    bad = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    idx = str(tmp_path / "idtype_ivf")
    SIM.build_ivf_index(half_a, idx, n_centroids=16, coarse="md5", dim=64)
    with pytest.raises(ValueError, match="id type"):
        SIM.extend_ivf_index(bad, idx, batch_id=1)
    pidx = str(tmp_path / "idtype_ivfpq")
    SIM.build_ivfpq_index(half_a, pidx, n_centroids=16, m=8, n_codewords=16, dim=64)
    with pytest.raises(ValueError, match="id type"):
        SIM.extend_ivfpq_index(bad, pidx, batch_id=1)


def test_pre_r15_id_type_fallback_reads_base_partition_only(
    spark, emb, tmp_path
):
    """r17 (the r16-deferred pin): on a LEGACY root whose meta predates the
    id_type field, the extend/delete guards must infer the id type from
    `postings/batch=base` ONLY — full-tree schema inference would touch
    the footers of a crashed uncommitted delivery's partial files.  Made
    deterministic: a corrupt part-file in an uncommitted batch dir that
    LISTS FIRST (`batch=aaa-ghost` sorts before `batch=base`) breaks any
    whole-tree inference loudly, while the pinned base read never touches
    it — a regression to full-tree inference fails this test instead of
    passing by footer-sampling luck."""

    def _strip_id_type(root: str) -> None:
        meta = spark.read.parquet(f"{root}/meta").drop("id_type")
        rows, schema = meta.collect(), meta.schema
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{root}/meta")

    def _plant_corrupt_ghost(root: str) -> None:
        ghost = tmp_path / root.rsplit("/", 1)[1] / "postings" / "batch=aaa-ghost" / "list=0"
        ghost.mkdir(parents=True)
        (ghost / "part-00000.parquet").write_bytes(b"NOT A PARQUET FOOTER")

    from chat_data_pipeline_spark.operators.store import committed_batches

    idx = str(tmp_path / "legacy_ivf")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx,
        n_centroids=16, coarse="md5", dim=64,
    )
    _strip_id_type(idx)
    _plant_corrupt_ghost(idx)
    SIM.extend_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id="b1")
    ST.tombstone_delete(
        spark, idx, emb.filter(F.col("vec_id") % 10 == 1).select("vec_id"),
        batch_id="t1",
    )
    assert {"base", "b1", "t1"} <= set(committed_batches(spark, idx))
    # the wrong-type refusal still works through the legacy fallback
    bad = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    with pytest.raises(ValueError, match="id type"):
        SIM.extend_ivf_index(bad, idx, batch_id="b2")

    pidx = str(tmp_path / "legacy_ivfpq")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), pidx,
        n_centroids=16, m=8, n_codewords=16, dim=64,
    )
    _strip_id_type(pidx)
    _plant_corrupt_ghost(pidx)
    SIM.extend_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), pidx, batch_id="b1")
    assert {"base", "b1"} <= set(committed_batches(spark, pidx))


def test_probe_and_compact_survive_crashed_partial_files(
    spark, emb, queries, tmp_path
):
    """r17 schema-pinned tree loads: probes, the drift report and
    COMPACTION must all work over a postings tree holding a crashed
    uncommitted delivery's corrupt partial files — the committed-batch
    filter always hid the ROWS, but schema inference sampled footers
    before any filter applied, so the repair path could fail exactly when
    it was needed.  With the schema pinned from the base partition the
    debris is never touched, and an in-place compaction's static
    overwrite then clears it."""
    import os

    idx = str(tmp_path / "debris_ivf")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx,
        n_centroids=16, coarse="md5", dim=64,
    )
    SIM.extend_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id="b1")
    ghost = tmp_path / "debris_ivf" / "postings" / "batch=aaa-ghost" / "list=0"
    ghost.mkdir(parents=True)
    (ghost / "part-00000.parquet").write_bytes(b"NOT A PARQUET FOOTER")

    # probe + drift report read through the debris untouched
    want = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=5).collect())
    )
    assert len(want) > 0
    assert {r.batch for r in SIM.ivf_index_drift_report(spark, idx).collect()} == {
        "base", "b1",
    }
    # the repair path itself survives, and its static overwrite CLEARS
    # the debris partition
    SIM.compact_ivf_index(spark, idx)
    assert not os.path.exists(str(ghost))
    got = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=5).collect())
    )
    assert got == want

    # the neardup store's probe reads both trees schema-pinned
    from chat_data_pipeline_spark.operators import neardup_store as NS

    ndx = str(tmp_path / "debris_nd")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 2 == 0), ndx,
        n_planes=4, n_tables=4, dim=64, threshold=0.45,
    )
    # debris mirrors the real partition layout (postings sub-partition by
    # table; a crashed delivery writes into leaf dirs, not mid-tree)
    for leaf in ("postings/batch=aaa-ghost/t=0", "vectors/batch=aaa-ghost"):
        g = tmp_path / "debris_nd" / leaf
        g.mkdir(parents=True)
        (g / "part-00000.parquet").write_bytes(b"NOT A PARQUET FOOTER")
    probe = emb.filter(F.col("vec_id") % 2 == 1)
    assert NS.filter_against_neardup_index(spark, ndx, probe).count() >= 0


def test_rebuild_ivfpq_index_from_source_vectors(spark, emb, queries, tmp_path):
    """r16: the compressed store's re-shard story — the caller hands back
    the source corpus (the artifact PQ storage cannot reconstruct), the
    rebuild excludes currently-tombstoned ids, spends the folded ids, and
    probes of the rebuilt root bit-match a fresh compressed build over
    the retained vectors — including at a LARGER n_centroids re-shard."""
    import os

    from chat_data_pipeline_spark.operators import retrieval as RT

    idx = str(tmp_path / "ivfpq_reb")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, n_centroids=16, m=8,
        n_codewords=16, dim=64,
    )
    SIM.extend_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id="b1")
    victims = emb.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    ST.tombstone_delete(spark, idx, victims, batch_id="take")

    # in-place rebuild at the same params: deletes become physical
    SIM.rebuild_ivfpq_index(spark, idx, emb)
    assert not os.path.exists(f"{idx}/tombstones")
    fresh = str(tmp_path / "ivfpq_reb_fresh")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 != 2), fresh, n_centroids=16, m=8,
        n_codewords=16, dim=64,
    )
    got = _ppq(spark, idx, queries)
    assert got == _ppq(spark, fresh, queries) and len(got) > 0

    # the rebuild SPENT the folded delivery ids: a crash-replay of either
    # is a logged no-op, and cross-kind reuse is refused
    assert ST.folded_kind(spark, idx, "b1") == "extension"
    assert ST.folded_kind(spark, idx, "take") == "delete"
    before = _ppq(spark, idx, queries)
    SIM.extend_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id="b1")
    assert _ppq(spark, idx, queries) == before
    assert ST.committed_batches(spark, idx) == ["base"]

    # write-then-swap re-shard into MORE lists (finer pruning): probes
    # bit-match a fresh build at the new param over the same vectors
    dst = str(tmp_path / "ivfpq_reb_dst")
    SIM.rebuild_ivfpq_index(spark, idx, emb.filter(F.col("vec_id") % 5 != 2),
                            dst_index=dst, n_centroids=32)
    fresh32 = str(tmp_path / "ivfpq_reb_fresh32")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 != 2), fresh32, n_centroids=32, m=8,
        n_codewords=16, dim=64,
    )
    assert _ppq(spark, dst, queries) == _ppq(spark, fresh32, queries)


def test_failed_ivfpq_rebuild_request_leaves_root_servable(
    spark, emb, queries, tmp_path
):
    """Validation runs BEFORE the live root is invalidated: a corpus frame
    with the wrong id type, a non-divisible m, or a non-pq root must
    raise without bricking a serving index."""
    idx = str(tmp_path / "ivfpq_reb_guard")
    SIM.build_ivfpq_index(emb, idx, n_centroids=16, m=8, n_codewords=16, dim=64)
    before = _ppq(spark, idx, queries)

    bad_type = emb.select(F.col("vec_id").cast("string").alias("vec_id"), "embedding")
    with pytest.raises(ValueError, match="id type"):
        SIM.rebuild_ivfpq_index(spark, idx, bad_type)
    with pytest.raises(ValueError, match="divisible"):
        SIM.rebuild_ivfpq_index(spark, idx, emb, m=7)
    assert _ppq(spark, idx, queries) == before  # still serving, bit-identical

    # the full-precision root refuses the pq rebuild (and vice versa — the
    # lossy refusal on rebuild_ivf_index is covered by the lifecycle test)
    vidx = str(tmp_path / "ivf_not_pq")
    SIM.build_ivf_index(emb, vidx, n_centroids=16, coarse="md5", dim=64)
    with pytest.raises(ValueError, match="not an IVF-PQ"):
        SIM.rebuild_ivfpq_index(spark, vidx, emb)
