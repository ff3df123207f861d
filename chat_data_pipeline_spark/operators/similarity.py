"""Similarity search over embedding columns (``array<float>``).

Training-data extension (not in the reference — SURVEY.md §2.7 lists no
vector ops): brute-force cosine top-k as the exact baseline, SRP-LSH, IVF,
PQ and IVF-PQ as the sublinear scale paths, persisted IVF / IVF-PQ stores,
and pairwise embedding-cosine near-duplicate detection.

Only brute force and LSH candidate scoring are native Column math
(``zip_with`` product + ``aggregate`` fold, a strict left-to-right double
summation the duckdb oracle mirrors).  Everything else scores in numpy over
Arrow batches, in one of two arithmetic families:

- **trained** — seeded Lloyd centroids / PQ codebooks, scored with numpy
  matmul and ``sum(axis=1)`` (the recall-tested production paths);
- **md5** — literal ±1 codebooks derived from md5, scored with columnwise
  ordered folds that are bit-for-bit with DuckDB (the oracle twins and the
  persisted stores).

Every driver-collected top-k (PQ, IVF-PQ, the md5 twins and the persisted
probes) runs ONE scan body, :func:`_topk_scan`: collect the queries in one
bounded job (:func:`_collect_queries`), build the family's query tables,
one fused ``mapInPandas`` that prepares each batch and cuts a per-partition
top-k, then the one global window (:func:`_rank_topk`).  A family supplies
only its ``prepare`` and ``score`` kernels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import store as ST
from chat_data_pipeline_spark.session import values_df


def dot_expr(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as an ordered left fold in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    """L2 norm floored at 1e-12 (module convention: a zero vector scores
    cosine 0, never NaN — under Spark 4's ANSI default a raw 0.0/0.0 is a
    DIVIDE_BY_ZERO job failure, and with ANSI off the NaN would sort FIRST
    in a descending top-k window).  The duckdb oracle mirrors the floor
    (``greatest(sqrt(...), 1e-12)``), so both engines agree exactly."""
    return F.greatest(
        F.sqrt(
            F.aggregate(
                a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
            )
        ),
        F.lit(1e-12),
    )


def _half_away_micros(x: np.ndarray) -> np.ndarray:
    """Vectorized DuckDB/Spark ROUND semantics (half away from zero) at
    1e-6 — NOT numpy's banker's ``rint``, so exact .5-micro boundaries
    round the same way the oracle's ``ROUND(... * 1000000)`` does (the
    scalar twin lives at ``selection._round_half_away_micros``)."""
    return (np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5)).astype(np.int64)


def _guard_query_rows(queries: DataFrame, max_query_rows: int, site: str) -> None:
    """limit-probe guard (scans ≤ cap+1 narrow rows, never a full count) for
    the broadcast probe side of the ANN scans: an oversized probe set must
    fail with guidance, not silently OOM the driver — the same posture as
    the exact all-pairs ``max_broadcast_rows`` guard in
    :func:`embedding_neardup_pairs`.  The driver-collected paths fold this
    guard into their one bounded collect (:func:`_collect_queries`)."""
    if queries.limit(max_query_rows + 1).count() > max_query_rows:
        raise ValueError(
            f"{site}: probe set exceeds max_query_rows={max_query_rows}; "
            "shard the query set (the corpus side scales out, the probe side "
            "is driver-collected/broadcast) or raise the guard explicitly"
        )


def _as_matrix(vectors) -> np.ndarray:
    """An Arrow batch's vector column as a float64 row matrix."""
    return np.asarray([np.asarray(v, dtype=np.float64) for v in vectors])


def _collect_queries(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    max_query_rows: int,
    dim: int,
    site: str,
) -> tuple[np.ndarray, np.ndarray]:
    """The probe side of a driver-collected top-k in ONE bounded job: the
    ``limit(cap+1)`` both guards the size (an oversized probe set fails with
    guidance instead of OOMing the driver) and bounds the Arrow transfer.
    Returns the ids and an always-2-D ``(n, dim)`` float64 matrix, so an
    empty probe set runs every query-table kernel unchanged.  A query width
    other than ``dim`` is refused: the LUT slices would silently score a
    prefix of each query."""
    qpdf = (
        queries.select(query_id_col, query_vec_col)
        .limit(int(max_query_rows) + 1)
        .toPandas()
    )
    if len(qpdf) > max_query_rows:
        raise ValueError(
            f"{site}: probe set exceeds max_query_rows={max_query_rows}; shard "
            "the query set or raise the guard explicitly"
        )
    qids = qpdf[query_id_col].to_numpy()
    if not len(qpdf):
        return qids, np.zeros((0, dim))
    qmat = _as_matrix(qpdf[query_vec_col])
    if qmat.shape[1] != dim:
        raise ValueError(f"{site}: query dim {qmat.shape[1]} != expected dim {dim}")
    return qids, qmat


def _rank_topk(
    scored: DataFrame, k: int, query_id_col: str, id_col: str, score_col: str
) -> DataFrame:
    """The ANN family's one global rank: ``row_number`` per query by
    (score desc, id asc), cut at ``k``."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, score_col, "rank")
    )


def _topk_scan(
    source: DataFrame,
    payload: tuple,
    prepare,
    score,
    queries: DataFrame,
    k: int,
    id_col: str,
    query_id_col: str,
    score_col: str,
) -> DataFrame:
    """The one top-k scan body: ONE ``mapInPandas`` over ``source`` that
    runs ``prepare(batch) -> (lists, data)`` once per Arrow batch (each
    row's coarse list, None on a flat PQ scan, plus whatever the family's
    score reads), then per query masks the rows to its probed lists, calls
    ``score(lists, data, tables_of_query, idx)``, rounds to 6 dp and cuts a
    local top-k; :func:`_rank_topk` then ranks the ≤ partitions·k·|queries|
    candidates globally.

    ``payload = (qids, probes, tables)`` is broadcast once: ``probes`` is
    ``(n_queries, n_probe)`` list ids (None on a flat scan) and ``tables``
    a tuple of per-query arrays, whose ``qi``-th rows reach ``score``.

    Rounding BEFORE the local cut, with the id tie-break, mirrors the global
    window's (rounded desc, id asc) order: selecting on unrounded scores
    would let two rows equal at 6 dp be cut differently per partition."""
    import pandas as pd

    bcast = source.sparkSession.sparkContext.broadcast(payload)
    kk = int(k)

    def scan(batches):
        qids, probes, tables = bcast.value
        for batch in filter(len, batches):
            vids = batch[id_col].to_numpy()
            lists, data = prepare(batch)
            out_q, out_v, out_s = [], [], []
            for qi in range(len(qids)):
                idx = (
                    slice(None)
                    if probes is None
                    else np.flatnonzero(np.isin(lists, probes[qi]))
                )
                ids = vids[idx]
                if not len(ids):
                    continue
                scores = np.round(score(lists, data, [t[qi] for t in tables], idx), 6)
                top = np.lexsort((ids, -scores))[:kk]
                out_q.extend([qids[qi]] * len(top))
                out_v.extend(ids[top])
                out_s.extend(scores[top])
            yield pd.DataFrame({query_id_col: out_q, id_col: out_v, score_col: out_s})

    q_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(source.dtypes)[id_col]
    candidates = source.mapInPandas(
        scan, schema=f"{query_id_col} {q_type}, {id_col} {id_type}, {score_col} double"
    )
    return _rank_topk(candidates, k, query_id_col, id_col, score_col)


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Exact top-k neighbours per query by cosine.

    The query side is broadcast (queries ≪ corpus); the corpus scan is one
    narrow pass; per-query top-k via window rank with a deterministic
    (score desc, id asc) tie-break.  At 100 TB this is the 'small query set ×
    huge corpus' pattern — no shuffle of the corpus, only of (n_queries × n)
    score rows, which AQE coalesces.
    """
    _guard_query_rows(queries, max_query_rows, "brute_force_topk")
    corpus = df.withColumn("__norm__", norm_expr(F.col(vec_col)))
    probes = queries.withColumn("__qnorm__", norm_expr(F.col(query_vec_col)))
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot_expr(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__norm__") * F.col("__qnorm__")),
            6,
        ).alias("cosine"),
    )
    return _rank_topk(scored, k, query_id_col, id_col, "cosine")


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_multitable_buckets(
    vec: Column, dim: int, n_planes: int, n_tables: int, seed: int = 42
) -> Column:
    """OR-amplified SRP: ``n_tables`` independent plane sets, one bucket id
    per table (bucket = table_idx * 2^n_planes + sign bits).  A cosine-θ pair
    collides in ≥1 table with prob 1-(1-(1-θ/π)^n_planes)^n_tables — a single
    table is useless below ~0.9 cosine (e.g. 6 planes @ cosine 0.45 → 7%
    recall); tables are the recall dial, planes the precision dial.

    All tables' sign bits come from ONE batched matmul against the stacked
    (n_tables·n_planes × dim) plane matrix — the per-plane higher-order-fold
    expression form costs n_tables·n_planes interpreted array folds per row.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    all_planes = np.vstack(
        [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )
    # one sign bit per plane, first plane = MSB (the md5 twin's bucket order)
    weights = 1 << np.arange(n_planes)[::-1]
    offsets = np.arange(n_tables, dtype=np.int64) * (1 << n_planes)

    def batch(s):
        mat = _as_matrix(s)
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        bits = (mat @ all_planes.T) >= 0
        bits = bits.reshape(len(mat), n_tables, n_planes)
        ids = (bits * weights).sum(axis=2).astype(np.int64) + offsets
        return pd.Series([row.tolist() for row in ids])

    return pandas_udf(batch, "array<long>")(vec)


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int = 64,
    seed: int = 42,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Approximate top-k: OR-amplified SRP — the corpus is bucketed once per
    table (a one-off narrow projection, persistable at ingest) and each query
    probes its bucket in every table; candidates are the union of collisions,
    deduped before scoring.  Recall = 1-(1-p^planes)^tables, measured against
    brute force in tests."""
    _guard_query_rows(queries, max_query_rows, "lsh_topk")
    buckets = df.select(
        F.col(id_col),
        F.explode(
            lsh_multitable_buckets(F.col(vec_col), dim, n_planes, n_tables, seed)
        ).alias("__bucket__"),
    )
    probe_buckets = queries.select(
        F.col(query_id_col),
        F.explode(
            lsh_multitable_buckets(F.col(query_vec_col), dim, n_planes, n_tables, seed)
        ).alias("__bucket__"),
    )
    cand = (
        buckets.join(F.broadcast(probe_buckets), "__bucket__")
        .select(query_id_col, id_col)
        .distinct()
    )
    corpus = df.select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("__norm__")
    )
    probes = queries.select(
        query_id_col, query_vec_col, norm_expr(F.col(query_vec_col)).alias("__qnorm__")
    )
    scored = cand.join(corpus, id_col).join(F.broadcast(probes), query_id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot_expr(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__norm__") * F.col("__qnorm__")),
            6,
        ).alias("cosine"),
    )
    return _rank_topk(scored, k, query_id_col, id_col, "cosine")


def _sample_mat(
    df: DataFrame,
    vec_col: str,
    sample_rows: int,
    id_col: str | None = None,
    normalize: bool = False,
) -> np.ndarray:
    """Bounded deterministic driver-side sample as a float64 matrix:
    md5-of-id order when an id is available (a bare ``limit`` is
    partition-layout-dependent), optional L2 normalization with the module's
    1e-12 zero-vector floor.  Shared by every index build here (IVF coarse
    quantizer, PQ codebooks, IVF-PQ residual training)."""
    if id_col is not None:
        sample = (
            df.select(id_col, vec_col)
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(sample_rows)
            .toPandas()
        )
    else:
        sample = df.select(vec_col).limit(sample_rows).toPandas()
    mat = _as_matrix(sample[vec_col])
    if normalize and len(mat):
        mat = _l2_normalize(mat)
    return mat


# --- trained-family kernels: numpy matmul and sum(axis=1) -------------------


def _l2_normalize(mat: np.ndarray) -> np.ndarray:
    """Row L2 normalization with the module's 1e-12 zero-vector floor."""
    return mat / np.maximum(np.sqrt((mat * mat).sum(axis=1)), 1e-12)[:, None]


def _nearest(mat: np.ndarray, cent: np.ndarray, n: int) -> np.ndarray:
    """The ``n`` nearest rows of ``cent`` per row of ``mat`` by squared L2
    in the ``|x|² - 2x·c + |c|²`` matmul form, stable on ties."""
    d2 = (
        (mat * mat).sum(axis=1)[:, None]
        - 2.0 * (mat @ cent.T)
        + (cent * cent).sum(axis=1)[None, :]
    )
    return np.argsort(d2, axis=1, kind="stable")[:, :n]


def _trained_query_tables(
    qmat: np.ndarray,
    books: np.ndarray,
    coarse: np.ndarray | None = None,
    n_probe: int = 0,
) -> tuple[np.ndarray | None, tuple]:
    """``(probes, tables)`` for a trained PQ scan: the L2-normalized queries'
    per-subspace LUTs ``LUT[q, j, c] = <q_sub_j, book_{j,c}>`` and, on the
    IVF-PQ path (``coarse`` given), each query's ``n_probe`` nearest lists
    plus the base term ``<q, c_list>`` for every list."""
    qmat = _l2_normalize(qmat)
    dsub = books.shape[2]
    luts = np.stack(
        [qmat[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(len(books))],
        axis=1,
    )
    if coarse is None:
        return None, (luts,)
    return _nearest(qmat, coarse, n_probe), (qmat @ coarse.T, luts)


def _trained_score(lists, codes, tables, idx) -> np.ndarray:
    """Trained ADC score of ``codes[idx]``: the ``m`` LUT lookups as one
    gather + ``sum(axis=1)``, plus the ``<q, c_list>`` base term on the
    IVF-PQ path."""
    *base, lut = tables
    s = lut[np.arange(codes.shape[1])[None, :], codes[idx]].sum(axis=1)
    return base[0][lists[idx]] + s if base else s


def _stored_codes(batch):
    """``prepare`` over encoded rows: the ``list`` column (absent on a flat
    PQ scan) and the ``pq_code`` matrix."""
    lists = batch["list"].to_numpy() if "list" in batch else None
    return lists, np.stack([np.asarray(c) for c in batch["pq_code"]])


def _assign_nearest(
    mat: np.ndarray, centroids: np.ndarray, row_budget: int = 1 << 25
) -> np.ndarray:
    """``argmin_c |x - c|²`` per row.  Subtract-form (exact FP parity with
    the historical trainer — the |x|²-2xc+|c|² identity differs in rounding
    and could flip argmin ties), chunked over rows so the temporary
    (chunk × centroids × dim) array stays ≤ ``row_budget`` doubles instead
    of sample×centroids×dim (51 GB at 10k×10k×64)."""
    n_cent, dim = centroids.shape
    chunk = max(1, row_budget // max(1, n_cent * dim))
    out = np.empty(len(mat), dtype=np.int64)
    for s in range(0, len(mat), chunk):
        d2 = ((mat[s : s + chunk, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        out[s : s + chunk] = d2.argmin(axis=1)
    return out


def _lloyd(mat: np.ndarray, n_centroids: int, iters: int, seed: int) -> np.ndarray:
    """Seeded Lloyd iterations over an in-memory sample: seeded init (fancy
    indexing copies), argmin ties to the lowest centroid id, empty clusters
    keep their previous centroid.  Shared by the IVF builds and
    ``semantic_dedup``'s blocking trainer."""
    rng = np.random.RandomState(seed)
    centroids = mat[
        rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)
    ]
    for _ in range(iters):
        assign = _assign_nearest(mat, centroids)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


# Above this many centroids a driver-side Lloyd train (O(iters·8·C²·dim)
# flops at the scaled sample) stops being viable — fail with guidance
# rather than silently undertrain; SemDeDup's own LAION-440M run used 50k.
MAX_DRIVER_CENTROIDS = 65_536


def _train_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int,
    sample_rows: int | None = None,
    iters: int = 10,
    seed: int = 42,
    id_col: str | None = None,
    normalize: bool = False,
) -> np.ndarray:
    """Coarse quantizer for the IVF index: seeded Lloyd on a bounded
    driver-side sample.  ``sample_rows=None`` (default) scales the sample
    with the request — ``max(10_000, 8·n_centroids)`` — because a FIXED
    sample silently caps the trained centroid count at the sample size
    (Lloyd can't produce more distinct centroids than points), which would
    let ``semantic_dedup``'s derived ``n_clusters`` degrade to ever-larger
    clusters on ever-larger corpora without a word.  Requests beyond
    :data:`MAX_DRIVER_CENTROIDS` fail with guidance (module posture: loud,
    not silent)."""
    if n_centroids > MAX_DRIVER_CENTROIDS:
        raise ValueError(
            f"n_centroids={n_centroids} exceeds MAX_DRIVER_CENTROIDS="
            f"{MAX_DRIVER_CENTROIDS} for the driver-side Lloyd trainer; "
            "partition the corpus (e.g. by source) and index each partition, "
            "or raise target_cluster_size / pass an explicit n_clusters"
        )
    if sample_rows is None:
        sample_rows = max(10_000, 8 * n_centroids)
    mat = _sample_mat(df, vec_col, sample_rows, id_col, normalize)
    return _lloyd(mat, n_centroids, iters, seed)


def _ivf_assign_expr(df: DataFrame, vec_col: str, centroids: np.ndarray, out: str, n_lists: int = 1) -> DataFrame:
    """Nearest-centroid(s) assignment as an Arrow-batched matmul (centroids
    ship in the closure — KB-scale).  ``n_lists > 1`` emits the n closest
    lists (query-side multi-probe)."""
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.float64)

    def assign(batches):
        # empty Arrow batches skipped: a (0,)-shaped mat breaks axis=1
        for batch in filter(len, batches):
            lists = _nearest(_as_matrix(batch[vec_col]), cent, n_lists)
            out_batch = batch.copy()
            out_batch[out] = [row.tolist() for row in lists]
            yield out_batch

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(assign, schema=f"{fields}, {out} array<int>")


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF approximate top-k: corpus rows assign to their nearest coarse
    centroid (the inverted list — a one-off narrow pass, persistable at
    ingest); each query probes its ``n_probe`` closest lists and scores only
    those lists' members.  Scan fraction ≈ n_probe/n_centroids; recall is
    measured against brute force in tests.  Unlike SRP-LSH this adapts to
    the data distribution (centroids follow density)."""
    _guard_query_rows(queries, max_query_rows, "ivf_topk")
    centroids = _train_centroids(df, vec_col, n_centroids, seed=seed, id_col=id_col)
    corpus = _ivf_assign_expr(df.select(id_col, vec_col), vec_col, centroids, "__lists__", 1)
    corpus = corpus.select(
        id_col, vec_col, F.element_at("__lists__", 1).alias("__list__")
    )
    probes = _ivf_assign_expr(
        queries.select(query_id_col, query_vec_col), query_vec_col, centroids, "__lists__", n_probe
    )
    probes = probes.select(
        query_id_col, query_vec_col, F.explode("__lists__").alias("__list__")
    )
    q_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(df.dtypes)[id_col]
    pairs = corpus.join(F.broadcast(probes), "__list__").select(
        F.col(query_id_col).alias("id1"),
        F.col(id_col).alias("id2"),
        F.col(query_vec_col).alias("__v1__"),
        F.col(vec_col).alias("__v2__"),
    )
    scored = _score_candidate_pairs(
        pairs, f"id1 {q_type}, id2 {id_type}, cosine double"
    ).select(
        F.col("id1").alias(query_id_col), F.col("id2").alias(id_col), "cosine"
    )
    return _rank_topk(scored, k, query_id_col, id_col, "cosine")


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    id_col: str | None = None,
) -> np.ndarray:
    """Product-quantization codebooks ``(m, k, dim/m)`` (Jégou et al. 2011,
    public methodology): the vector splits into ``m`` subspaces, each with
    its own ``k``-centroid quantizer trained by the same bounded
    deterministic sample + seeded Lloyd loop as the IVF build.  Vectors are
    L2-NORMALIZED before training/encoding so asymmetric inner-product
    lookups approximate cosine — the similarity this module's ANN family
    ranks by."""
    mat = _sample_mat(df, vec_col, sample_rows, id_col=id_col, normalize=True)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    return _pq_train_mat(mat, m, k, iters, seed, dsub)


def _pq_train_mat(
    mat: np.ndarray, m: int, k: int, iters: int, seed: int, dsub: int
) -> np.ndarray:
    """Per-subspace seeded Lloyd over an in-memory sample matrix — shared by
    the flat-PQ and IVF-PQ (residual) builds."""
    books = np.empty((m, k, dsub))
    rng = np.random.RandomState(seed)
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=min(k, len(sub)), replace=False)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j, : len(cent)] = cent
        if len(cent) < k:  # degenerate tiny sample: pad with the last centroid
            books[j, len(cent) :] = cent[-1]
    return books


def _pq_codes_mat(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Nearest sub-centroid per subspace (stable ties) for an in-memory
    matrix — shared by pq_encode and the IVF-PQ residual encoder."""
    m, _, dsub = books.shape
    codes = np.empty((len(mat), m), dtype=np.int64)
    for j in range(m):
        codes[:, j] = _nearest(mat[:, j * dsub : (j + 1) * dsub], books[j], 1)[:, 0]
    return codes


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, pq_code array<int>) — each vector compressed to ``m`` sub-
    centroid indices: dim·4 bytes → m bytes (32× at dim=64, m=8, k≤256).

    THE memory lever for a 100 TB embedding store: the encoded corpus fits
    ~30× more vectors per executor, and encoding is a narrow Arrow-batched
    pass (codebooks ship in the closure — KB-scale), zero shuffles."""
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = books.shape
    id_type = dict(df.dtypes)[id_col]

    def encode(batches):
        for batch in filter(len, batches):
            mat = _as_matrix(batch[vec_col])
            # fail loudly on a corpus/codebook dim mismatch instead of
            # silently reading a prefix of each vector (numpy slicing
            # would not raise) — the md5 twins' guard, applied here
            if mat.shape[1] != m * dsub:
                raise ValueError(
                    f"corpus dim {mat.shape[1]} != codebook dim {m * dsub}"
                )
            codes = _pq_codes_mat(_l2_normalize(mat), books)
            yield pd.DataFrame(
                {id_col: batch[id_col].to_numpy(), "pq_code": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} {id_type}, pq_code array<int>"
    )


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_subcentroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric-distance PQ scan.

    Per query a ``(m, k)`` lookup table of sub-inner-products is built
    driver-side (tiny) and broadcast; each partition scores its encoded
    vectors with ``m`` table lookups per vector (no float math on the
    corpus side), emits its local top-k, and one final window over the
    ≤ partitions·k·|queries| candidate rows ranks globally.  The full-
    precision corpus is never shuffled or rescanned — the classic
    IVF-free ADC scan, here as the compressed complement to ``ivf_topk``.
    """
    books = train_pq_codebooks(
        df, vec_col, m=m, k=n_subcentroids, seed=seed, id_col=id_col
    )
    qids, qmat = _collect_queries(
        queries, query_id_col, query_vec_col, max_query_rows,
        m * books.shape[2], "pq_topk",
    )
    probes, tables = _trained_query_tables(qmat, books)
    return _topk_scan(
        pq_encode(df, books, id_col, vec_col), (qids, probes, tables),
        _stored_codes, _trained_score, queries, k, id_col, query_id_col,
        "approx_cosine",
    )


def ivf_pq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_subcentroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    sample_rows: int = 10_000,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """FAISS-style IVF-PQ (Jégou et al. 2011): the coarse quantizer prunes
    the scan to ``n_probe/n_centroids`` of the corpus AND the residual
    ``v - c_list`` is PQ-compressed, so the probed fraction scores from
    ``m``-byte codes — the two scale levers (probe pruning × 32×
    compression) composed, vs ``ivf_topk`` (pruning only) and ``pq_topk``
    (compression only).

    Scoring is asymmetric inner product on L2-normalized vectors:
    ``score(q, v) ≈ <q, c_list> + Σ_j LUT_j[code_j]`` with
    ``LUT_j[c] = <q_sub_j, book_j[c]>`` — the base term is one lookup per
    row, the residual term ``m`` lookups; no float reconstruction of any
    corpus vector.  Training (coarse Lloyd + residual sub-Lloyd) runs on
    the bounded md5-ordered driver sample like every index build here;
    encoding is one narrow Arrow pass; the scan emits per-partition top-k
    and one final window ranks ≤ partitions·k·|queries| candidate rows.
    """
    import pandas as pd

    # --- driver-side training on the bounded deterministic sample ---------
    # (shared sample/Lloyd/assign helpers — the coarse train is exactly
    # _train_centroids on the L2-normalized sample; residuals then feed the
    # per-subspace PQ train)
    smat = _sample_mat(df, vec_col, sample_rows, id_col=id_col, normalize=True)
    dim = smat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    coarse = _lloyd(smat, n_centroids, 10, seed)
    residuals = smat - coarse[_assign_nearest(smat, coarse)]
    books = _pq_train_mat(residuals, m, n_subcentroids, 10, seed + 1, dim // m)

    # --- corpus encode: (id, list, code) — one narrow Arrow pass ----------
    id_type = dict(df.dtypes)[id_col]

    def encode(batches):
        for batch in filter(len, batches):
            mat = _l2_normalize(_as_matrix(batch[vec_col]))
            lst = _nearest(mat, coarse, 1)[:, 0]
            codes = _pq_codes_mat(mat - coarse[lst], books)
            yield pd.DataFrame(
                {
                    id_col: batch[id_col].to_numpy(),
                    "list": lst.astype(np.int32),
                    "pq_code": list(codes),
                }
            )

    encoded = df.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} {id_type}, list int, pq_code array<int>"
    )
    qids, qmat = _collect_queries(
        queries, query_id_col, query_vec_col, max_query_rows, dim, "ivf_pq_topk"
    )
    probes, tables = _trained_query_tables(qmat, books, coarse, n_probe)
    return _topk_scan(
        encoded, (qids, probes, tables), _stored_codes, _trained_score,
        queries, k, id_col, query_id_col, "approx_cosine",
    )


def _score_candidate_pairs(
    pairs: DataFrame,
    schema: str,
    threshold: float | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score (id1, id2, __v1__, __v2__) candidate rows: cosine per pair as one
    numpy einsum per Arrow batch; ``threshold`` (if given) keeps only pairs
    at-or-above it.  Rounding (6 dp) matches the exact broadcast-matmul path
    bit-for-bit.  ``extra_cols`` pass through unchanged (the caller includes
    them in ``schema``) — cheaper than re-joining attributes onto the scored
    output."""
    import pandas as pd

    def score(batches):
        for batch in filter(len, batches):
            m1, m2 = _as_matrix(batch["__v1__"]), _as_matrix(batch["__v2__"])
            # norm floor: a zero vector scores cosine 0, not NaN — NaN would
            # silently drop the pair in threshold mode and, worse, SORT FIRST
            # under Spark's NaN-is-greatest descending order in the top-k
            # window (module convention, same as semantic_dedup/decontam).
            n1 = np.maximum(np.sqrt((m1 * m1).sum(axis=1)), 1e-12)
            n2 = np.maximum(np.sqrt((m2 * m2).sum(axis=1)), 1e-12)
            cos = np.round(np.einsum("ij,ij->i", m1, m2) / (n1 * n2), 6)
            keep = cos >= threshold if threshold is not None else slice(None)
            out = {
                "id1": batch["id1"].to_numpy()[keep],
                "id2": batch["id2"].to_numpy()[keep],
                "cosine": cos[keep],
            }
            for c in extra_cols:
                out[c] = batch[c].to_numpy()[keep]
            yield pd.DataFrame(out)

    return pairs.mapInPandas(score, schema=schema)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 12,
    dim: int = 64,
    seed: int = 42,
    max_broadcast_rows: int = 1_000_000,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """All pairs with cosine ≥ threshold.

    ``n_planes=None`` → EXACT all-pairs via broadcast matmul: the corpus is
    broadcast as a dense float64 matrix and each Arrow batch scores against
    it with BLAS (the vector twin of a broadcast hash join, and like one it
    requires the broadcast side to fit in memory — guarded by
    ``max_broadcast_rows``).  Exact mode is the small-corpus / oracle /
    verification path; at scale use ``n_planes``: SRP-LSH candidate blocking
    with no broadcast of the corpus (high-cosine pairs collide in ≥1 table
    with high probability), only collisions scored.  Per-element
    higher-order-function scoring of the same pairs measured ~20× slower
    than the matmul.
    """
    if n_planes:
        # One shuffle total: (id, vec) rows hash to their SRP buckets (vector
        # payload is dim·4 bytes — n_tables× the corpus through the shuffle,
        # same order as MinHash band signatures), then each bucket scores its
        # own all-pairs cosine as ONE numpy matmul inside applyInPandas, and
        # only surviving pairs (output-sized) reach the cross-table dedup.
        # This replaces bucket-self-join → distinct → double vector-fetch
        # join → per-pair scoring: that plan shipped |candidates| · 2·dim
        # floats through Arrow (~450 MB at sf0.1) where this one ships
        # n_tables · |corpus| · dim (~6 MB).  ``max_bucket_size`` is the skew
        # guard: a bucket that big means n_planes is too low for the corpus
        # (its pairs are near-random collisions); skip it rather than letting
        # one task go quadratic.
        # NB no repartition_for_compute here: bucket-gen is ~72·dim flops per
        # row (cheap), and the groupBy shuffle right after it parallelizes the
        # expensive part (scoring) no matter how the input is split — an extra
        # round-robin exchange would only add a stage.
        import pandas as pd

        thr = float(threshold)
        id_type = dict(df.dtypes)[id_col]
        # each row ships its FULL per-table bucket list into every bucket it
        # lands in (n_tables longs — noise next to the dim·4-byte vector), so
        # cross-table pair dedup happens inside the bucket: a pair is emitted
        # only by its lowest-table collision.  That removes the post-scoring
        # global dropDuplicates exchange — the plan is exactly one shuffle.
        blist = lsh_multitable_buckets(F.col(vec_col), dim, n_planes, n_tables, seed)
        buckets = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("__v__"),
            blist.alias("__blist__"),
        ).select("id", "__v__", "__blist__", F.explode("__blist__").alias("__bucket__"))

        # Oversized buckets are SKIPPED by the scorer, so the cross-table
        # "already collided in an earlier table" suppression must not credit
        # them — otherwise a pair whose lowest-table bucket was skipped is
        # emitted by NO table (silent recall hole exactly on skewed corpora).
        # The set is tiny by construction (each member bucket holds
        # > max_bucket_size rows), so one column-pruned count pre-pass +
        # driver collect is cheap; vectors never ride this job.
        oversized = np.array(
            [
                r["__bucket__"]
                for r in buckets.groupBy("__bucket__")
                .agg(F.count("*").alias("c"))
                .filter(F.col("c") > max_bucket_size)
                .collect()
            ],
            dtype=np.int64,
        )

        def score_partition(batches):
            # the repartition below hash-partitions on __bucket__, so every
            # bucket arrives whole in exactly one partition; concatenating
            # the partition's Arrow batches before segmenting is what makes
            # that guarantee usable (a bucket may straddle batch boundaries).
            # One Python roundtrip per PARTITION, segmented per bucket in
            # numpy — measured ~1.6× faster than per-group applyInPandas,
            # whose per-bucket pandas frames dominate at thousands of small
            # buckets.  Partition memory = one shuffle partition (sized by
            # spark.sql.shuffle.partitions).  NB AQE never splits a
            # user-specified hash repartition on skew (skew-splitting applies
            # to joins/rebalance only) — that is load-bearing: a split bucket
            # would score two partial all-pairs matrices and permanently miss
            # the cross-fragment pairs.
            chunks = [b for b in batches if len(b)]
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            order = np.argsort(pdf["__bucket__"].to_numpy(), kind="stable")
            pdf = pdf.iloc[order]
            bk = pdf["__bucket__"].to_numpy()
            bounds = np.flatnonzero(np.r_[True, bk[1:] != bk[:-1], True])
            ids_all = pdf["id"].to_numpy()
            vecs = [np.asarray(v, dtype=np.float64) for v in pdf["__v__"]]
            blists = np.stack([np.asarray(b) for b in pdf["__blist__"]])
            out1, out2, outc = [], [], []
            for s, e in zip(bounds[:-1], bounds[1:]):
                # oversized bucket = n_planes too low for the corpus (its
                # pairs are near-random collisions): skip rather than go
                # quadratic in one task
                if e - s < 2 or e - s > max_bucket_size:
                    continue
                ids = ids_all[s:e]
                mat = np.stack(vecs[s:e])
                # 1e-12 norm floor (module convention): a zero vector scores
                # cosine 0 — a NaN row would silently drop its pairs
                norms = np.maximum(np.sqrt((mat * mat).sum(axis=1)), 1e-12)
                sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
                keep = (sims >= thr) & (ids[:, None] < ids[None, :])
                # suppress pairs that already collided in an earlier table —
                # bucket ids are table-offset, so equality only holds
                # in-table — but only when that earlier bucket was actually
                # scored (an oversized earlier bucket emitted nothing)
                t_g = int(bk[s]) >> n_planes
                if t_g:
                    B = blists[s:e]
                    for t in range(t_g):
                        same = B[:, t][:, None] == B[:, t][None, :]
                        if len(oversized):
                            scored_rows = ~np.isin(B[:, t], oversized)
                            same &= scored_rows[:, None]
                        keep &= ~same
                ii, jj = np.nonzero(keep)
                out1.append(ids[ii])
                out2.append(ids[jj])
                outc.append(sims[ii, jj])
            if out1:
                yield pd.DataFrame(
                    {
                        "id1": np.concatenate(out1),
                        "id2": np.concatenate(out2),
                        "cosine": np.concatenate(outc),
                    }
                )

        # EXPLICIT partition count (r18, guide §2.5 AQE caveat): without a
        # number, AQE sizes this exchange by BYTES and coalesced the whole
        # byte-small bucket table into 1-2 partitions — serializing the
        # quadratic numpy scoring onto one core (measured: the scoring job
        # ran 1.95 s in a 1-task stage at 32 cores).  A user-specified
        # numPartitions is exempt from AQE coalescing; defaultParallelism
        # scales with the cluster, and every bucket still lands whole in
        # exactly one partition (hash on __bucket__ either way).
        n_score = df.sparkSession.sparkContext.defaultParallelism
        return buckets.repartition(n_score, "__bucket__").mapInPandas(
            score_partition, f"id1 {id_type}, id2 {id_type}, cosine double"
        )

    import pandas as pd

    from chat_data_pipeline_spark.session import repartition_for_compute

    id_type = dict(df.dtypes)[id_col]
    # guard and collect in ONE bounded job: the limit caps the driver
    # transfer at cap+1 rows even when the corpus is over the cap
    pdf = df.select(id_col, vec_col).limit(max_broadcast_rows + 1).toPandas()
    if len(pdf) > max_broadcast_rows:
        raise ValueError(
            f"exact all-pairs would broadcast >{max_broadcast_rows} vectors "
            f"(max_broadcast_rows={max_broadcast_rows}); use the SRP-LSH "
            "path (n_planes/n_tables) for corpora that don't fit a broadcast"
        )
    ids = pdf[id_col].to_numpy()
    mat = _as_matrix(pdf[vec_col])
    # 1e-12 norm floor (module convention): zero vectors score cosine 0
    norms = np.maximum(np.sqrt((mat * mat).sum(axis=1)), 1e-12)
    bcast = df.sparkSession.sparkContext.broadcast((ids, mat, norms))
    thr = float(threshold)

    def score_blocks(batches):
        bids, bmat, bnorms = bcast.value
        for batch in batches:
            ids1 = batch[id_col].to_numpy()
            m1 = _as_matrix(batch[vec_col])
            n1 = np.maximum(np.sqrt((m1 * m1).sum(axis=1)), 1e-12)
            sims = np.round((m1 @ bmat.T) / np.outer(n1, bnorms), 6)
            ii, jj = np.nonzero((sims >= thr) & (ids1[:, None] < bids[None, :]))
            yield pd.DataFrame(
                {"id1": ids1[ii], "id2": bids[jj], "cosine": sims[ii, jj]}
            )

    src = repartition_for_compute(df.select(id_col, vec_col))
    return src.mapInPandas(
        score_blocks, schema=f"id1 {id_type}, id2 {id_type}, cosine double"
    )


def srp_md5_sign_planes(
    dim: int, n_planes: int, n_tables: int, tag: str = "srp"
) -> list[list[list[float]]]:
    """Rademacher (±1) SRP hyperplanes derived from md5 — the CROSS-ENGINE
    plane family: component j of plane p in table t is +1 iff the first hex
    digit of md5('{tag}{t}_{p}_{j}') is odd.  Sign planes are a standard SRP
    variant (the hash only needs the dot's sign, not gaussian geometry), and
    ±1 components make every dot product an EXACT ordered sum of vector
    elements — no rounding anywhere until the final cosine."""
    return _md5_signs(tag, n_tables, n_planes, dim)


def _md5_signs(tag: str, a: int, b: int, c: int) -> list[list[list[float]]]:
    """The ``(a, b, c)`` ±1 tensor of the md5 family: entry ``[i][j][t]`` is
    +1 iff the first hex digit of md5('{tag}{i}_{j}_{t}') is odd."""
    import hashlib

    return [
        [
            [
                1.0
                if int(hashlib.md5(f"{tag}{i}_{j}_{t}".encode()).hexdigest()[0], 16) % 2
                else -1.0
                for t in range(c)
            ]
            for j in range(b)
        ]
        for i in range(a)
    ]


def embedding_neardup_pairs_srp_md5(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """SRP-LSH near-dup pairs with the md5 plane family — the ORACLE TWIN of
    the production LSH path (``embedding_neardup_pairs(n_planes=...)``),
    playing the role ``minhash_dedup_md5`` plays for D5-D8: the ENTIRE
    bucket → collision → cosine-verify pipeline is DuckDB-recomputable and
    value-hashes across engines.

    Bit-exactness argument: every plane dot, norm, and the cosine numerator
    are computed as COLUMNWISE fold accumulations (``acc = acc + mat[:, j]
    * s[j]`` over ascending j) — for each row this performs exactly the
    left-to-right IEEE double additions of an ordered fold, i.e. the same
    arithmetic as ``dot_expr`` and DuckDB's ``list_reduce``, just
    vectorized across rows (the interpreted Column-HOF fold form computed
    identical bits but cost ~30 folds/row ≈ 3.6 s at sf0.1; this runs in
    milliseconds).  ±1 plane components make every partial sum an exact
    combination of the input doubles, so the sign bits, buckets, and
    candidate set are IDENTICAL (not merely close) in both engines.  The
    production gaussian path keeps its recall pytest; this twin is the hard
    evidence for the shared blocking semantics.

    Plan shape: per-table bucket posting → self-join on (table, bucket) →
    distinct pairs → vector re-fetch join → columnwise-fold cosine verify.
    """
    import pandas as pd

    planes = srp_md5_sign_planes(dim, n_planes, n_tables)
    id_type = dict(df.dtypes)[id_col]
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    sign_mats = [np.asarray(planes[t], dtype=np.float64) for t in range(n_tables)]

    def bucket_batch(vs):
        mat = _as_matrix(vs)
        out = []
        if len(mat):
            d = mat.shape[1]
            # fail loudly on a corpus dim change: the sign planes (and the
            # DuckDB oracle's range(1, dim+1) twin) are built for ``dim`` —
            # a wider vector would IndexError below, but a NARROWER one
            # would silently fold NULL-truncated dots and corrupt buckets
            if d != dim:
                raise ValueError(
                    f"embedding dim {d} != configured dim {dim}; regenerate "
                    "the md5 plane family (and oracle) for the new width"
                )
            tbl = np.zeros((len(mat), n_tables), dtype=np.int64)
            for t in range(n_tables):
                dots = _fold_subspace_dots(mat, sign_mats[t], 0)
                for p in range(n_planes):
                    tbl[:, t] = tbl[:, t] * 2 + (dots[:, p] >= 0).astype(np.int64)
            out = [row.tolist() for row in tbl]
        return pd.Series(out, dtype=object)

    from pyspark.sql.functions import pandas_udf

    buckets = pandas_udf(bucket_batch, "array<long>")
    # materialized once (the simhash_dedup discipline): the self-join below
    # references the posting on BOTH sides and the v1/v2 re-fetch reads the
    # base twice — without the checkpoints the bucket UDF and the source
    # scan each execute twice per query (verified: 2 ArrowEvalPython + 4
    # FileScans in the un-checkpointed plan).  base is LAZY (r17, guide
    # §2.6): its only consumer in the FIRST action is the posting
    # checkpoint's UDF branch, which materializes the base blocks as a side
    # effect; the v1/v2 re-fetch in the final action reads the stored
    # blocks.  One dedicated materialization action saved, same reuse.
    base = base.localCheckpoint(eager=False)
    posting = base.select(
        "id", F.posexplode(buckets(F.col("v"))).alias("t", "b")
    ).localCheckpoint(eager=True)
    a, b = posting.alias("a"), posting.alias("b")
    # EXPLICIT-width pair dedup (r18, guide §2.5 AQE caveat): .distinct()'s
    # ENSURE_REQUIREMENTS exchange is AQE-coalesced by BYTES, and the pair
    # table is byte-small — the whole downstream cosine-verify ArrowEval
    # stage collapsed onto 1-2 tasks (measured: the verify job ran 1.4 s in
    # a 2-task stage at 32 cores).  A user-specified keyed repartition is
    # exempt from coalescing, and dropDuplicates over the same keys REUSES
    # its partitioning (no extra exchange); the broadcast vector re-fetch
    # joins then preserve the width into the verify.  Same rows as
    # .distinct().
    n_verify = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .repartition(n_verify, "id1", "id2")
        .dropDuplicates()
    )
    v1 = base.select(F.col("id").alias("id1"), F.col("v").alias("__v1__"))
    v2 = base.select(F.col("id").alias("id2"), F.col("v").alias("__v2__"))
    pairs = cand.join(v1, "id1").join(v2, "id2")

    thr = float(threshold)

    def score(batches):
        for batch in filter(len, batches):
            m1, m2 = _as_matrix(batch["__v1__"]), _as_matrix(batch["__v2__"])
            # ordered fold dot over fold norms, 1e-12 floored like the
            # oracle's greatest(sqrt(...), 1e-12)
            cos = np.round(
                _fold_dot_rows(m1, m2) / (_fold_norm_rows(m1) * _fold_norm_rows(m2)), 6
            )
            keep = cos >= thr
            yield pd.DataFrame(
                {
                    "id1": batch["id1"].to_numpy()[keep],
                    "id2": batch["id2"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    return pairs.mapInPandas(
        score, schema=f"id1 {id_type}, id2 {id_type}, cosine double"
    )


def pq_md5_sign_codebooks(
    m: int, k: int, dsub: int, tag: str = "pq"
) -> list[list[list[float]]]:
    """Rademacher (±1) PQ codebooks ``(m, k, dsub)`` derived from md5 — the
    CROSS-ENGINE codebook family (the :func:`srp_md5_sign_planes` trick
    applied to product quantization): component t of codeword c in subspace
    j is +1 iff the first hex digit of md5('{tag}{j}_{c}_{t}') is odd.

    Two properties buy the oracle twin: ±1 components make every
    sub-inner-product an EXACT ordered ±sum of vector elements (no rounding
    until the final score), and every codeword has the same norm ``dsub``,
    so nearest-codeword-by-L2 reduces to argmax inner product — a pure
    comparison of identically-computed doubles in both engines."""
    return _md5_signs(tag, m, k, dsub)


def _fold_dot_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise ``a·b`` as a COLUMNWISE fold accumulation: ``acc += a[:, i]
    * b[:, i]`` over ascending ``i`` performs, for every row, exactly the
    left-to-right IEEE double additions of the per-row ordered fold
    (``dot_expr`` / DuckDB ``list_reduce``) — identical bits, one vectorized
    numpy op per dimension (the interpreted Column-HOF fold form measured
    ~30 folds/row = 3.6 s at sf0.1).  ``b`` may be one broadcast row."""
    acc = np.zeros(len(a))
    for i in range(a.shape[1]):
        acc = acc + a[:, i] * b[:, i]
    return acc


def _fold_norm_rows(mat: np.ndarray) -> np.ndarray:
    """Row norms as a columnwise fold with the module's 1e-12 zero-vector
    floor."""
    return np.maximum(np.sqrt(_fold_dot_rows(mat, mat)), 1e-12)


def _fold_subspace_dots(mat: np.ndarray, signs: np.ndarray, offset: int) -> np.ndarray:
    """``(n_rows, k)`` inner products of ``mat[:, offset:offset+dsub]``
    against ``k`` ±1 codewords, accumulated column-by-column so every scalar
    sees the exact left-to-right fold DuckDB's generated ±-term chain
    computes."""
    k, dsub = signs.shape
    dots = np.zeros((len(mat), k))
    for t in range(dsub):
        dots = dots + mat[:, offset + t, None] * signs[None, :, t]
    return dots


# --- md5-family kernels: ±1 literal codebooks, columnwise ordered folds -----


def _md5_coarse_book(n_centroids: int, dim: int) -> np.ndarray:
    """The md5 IVF coarse codebook ``(n_centroids, dim)`` — the one literal
    every md5 IVF / IVF-PQ path assigns with: the in-flight twins, the
    persisted builds and probes, and the drift report."""
    return np.asarray(pq_md5_sign_codebooks(1, n_centroids, dim, "ivfpq_coarse")[0])


def _md5_ivfpq_books(
    n_centroids: int, m: int, n_codewords: int, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """(coarse codebook, residual PQ codebooks) of the md5 IVF-PQ family."""
    return _md5_coarse_book(n_centroids, dim), np.asarray(
        pq_md5_sign_codebooks(m, n_codewords, dim // m, "ivfpq_book")
    )


def _md5_normed(mat: np.ndarray, dim: int) -> np.ndarray:
    """Corpus rows fold-normalized.  A width other than the configured
    ``dim`` fails loudly: the literal codebooks (and the oracle) are built
    for it, and a narrower vector would silently fold truncated dots."""
    if mat.shape[1] != dim:
        raise ValueError(f"corpus dim {mat.shape[1]} != configured dim {dim}")
    return mat / _fold_norm_rows(mat)[:, None]


def _md5_assign(normed: np.ndarray, coarse: np.ndarray) -> np.ndarray:
    """md5 coarse assign: argmax of the exact ±1 fold dots, first max wins
    (constant-norm codewords, so nearest by L2 = largest inner product)."""
    return np.argmax(_fold_subspace_dots(normed, coarse, 0), axis=1)


def _md5_subspace_dots(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """``(n_rows, m, k)`` fold dots of every subspace against its ±1
    codewords: the query LUTs, and (argmax, first max wins) the PQ codes."""
    dsub = books.shape[2]
    return np.stack(
        [_fold_subspace_dots(mat, books[j], j * dsub) for j in range(len(books))],
        axis=1,
    )


def _md5_ivfpq_encode(
    mat: np.ndarray, coarse: np.ndarray, books: np.ndarray, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """(list, residual codes) of raw corpus rows under the md5 IVF-PQ
    arithmetic: the residual ``normed - coarse[list]`` subtracts ±1 exactly,
    then repeats the PQ argmax.  Shared by the in-flight twin and the
    persisted builder, so the two can never diverge."""
    normed = _md5_normed(mat, dim)
    lists = _md5_assign(normed, coarse)
    return lists, _md5_subspace_dots(normed - coarse[lists], books).argmax(axis=2)


def _md5_query_tables(
    qmat: np.ndarray,
    coarse: np.ndarray | None = None,
    books: np.ndarray | None = None,
    n_probe: int = 0,
) -> tuple[np.ndarray, np.ndarray | None, tuple]:
    """``(qn, probes, tables)`` for an md5 scan over the fold-normalized
    queries ``qn``.  With ``coarse``: each query's exact coarse dots (the
    IVF-PQ base term) and its ``n_probe`` best lists, dot desc then list id
    asc — a stable sort of the negated exact dots, the oracle's ROW_NUMBER
    order.  With ``books``: the per-subspace LUTs."""
    qn = qmat / _fold_norm_rows(qmat)[:, None]
    probes, tables = None, ()
    if coarse is not None:
        qdots = _fold_subspace_dots(qn, coarse, 0)
        probes = np.argsort(-qdots, axis=1, kind="stable")[:, :n_probe]
        tables = (qdots,)
    if books is not None:
        tables += (_md5_subspace_dots(qn, books),)
    return qn, probes, tables


def _md5_lut_score(lists, codes, tables, idx) -> np.ndarray:
    """md5 ADC score of ``codes[idx]``: the ``m`` LUT lookups folded left to
    right onto 0 (flat PQ) or onto the base term ``<q, c_list>`` (IVF-PQ) —
    the oracle's summation order."""
    *base, lut = tables
    acc = base[0][lists[idx]] if base else 0.0
    for j in range(len(lut)):
        acc = acc + lut[j][codes[idx, j]]
    return acc


def _md5_cosine_score(lists, normed, tables, idx) -> np.ndarray:
    """md5 IVF score: the full-precision ordered fold dot of ``normed[idx]``
    with the fold-normalized query — the SRP twin's verify arithmetic."""
    (qn,) = tables
    return _fold_dot_rows(normed[idx], qn[None, :])


def pq_topk_md5(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    tag: str = "pq",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """PQ asymmetric-distance top-k with md5 ±1 codebooks — the ORACLE TWIN
    of :func:`pq_topk`, closing the ann_topk_pq evidence gap the way
    ``embedding_neardup_pairs_srp_md5`` closed the LSH one: FIXED literal
    codebooks (no k-means training) make encode (argmax sub-inner-product,
    first-max tie) and the ADC lookup-sum pure arithmetic both engines
    evaluate bit-for-bit.  The production path keeps its trained codebooks
    and recall pytest; this twin is the hard evidence for the shared
    encode→LUT→scan→rank semantics.

    Plan shape (and the 100 TB posture it inherits from ``pq_topk``): ONE
    fused Arrow pass over the corpus — normalize → encode → LUT-score →
    per-partition top-k — then a global window over ≤ partitions·k·|queries|
    candidate rows.  Codebooks and query LUTs ship in the closure
    (KB-scale); the corpus is never shuffled at full width.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    books = np.asarray(pq_md5_sign_codebooks(m, n_codewords, dim // m, tag))
    qids, qmat = _collect_queries(
        queries, query_id_col, query_vec_col, max_query_rows, dim, "pq_topk_md5"
    )
    _, probes, tables = _md5_query_tables(qmat, books=books)

    def prepare(batch):
        normed = _md5_normed(_as_matrix(batch[vec_col]), dim)
        return None, _md5_subspace_dots(normed, books).argmax(axis=2)

    return _topk_scan(
        df.select(id_col, vec_col), (qids, probes, tables), prepare,
        _md5_lut_score, queries, k, id_col, query_id_col, "approx_cosine",
    )


def ivf_topk_md5(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF top-k with md5 ±1 coarse centroids and FULL-PRECISION fold-cosine
    scoring — the ORACLE TWIN of :func:`ivf_topk` (which keeps its k-means
    quantizer + recall pytest): coarse assignment is argmax of constant-norm
    inner products (exact ±sums, first-max tie), each query probes its
    ``n_probe`` closest lists, and candidates score by the module's ordered
    fold cosine — every stage DuckDB-replayable, so the probe-pruning
    semantics value-hash without PQ compression in the way.

    Plan shape: one fused Arrow pass (assign + probe-mask + score +
    per-partition top-k) then the global rank window — the corpus is never
    shuffled at full width, scan fraction ≈ n_probe/n_centroids."""
    coarse = _md5_coarse_book(n_centroids, dim)
    qids, qmat = _collect_queries(
        queries, query_id_col, query_vec_col, max_query_rows, dim, "ivf_topk_md5"
    )
    qn, probes, _ = _md5_query_tables(qmat, coarse, n_probe=n_probe)

    def prepare(batch):
        normed = _md5_normed(_as_matrix(batch[vec_col]), dim)
        return _md5_assign(normed, coarse), normed

    return _topk_scan(
        df.select(id_col, vec_col), (qids, probes, (qn,)), prepare,
        _md5_cosine_score, queries, k, id_col, query_id_col, "cosine",
    )


# --- persisted IVF index (r12) ----------------------------------------------
# A 100 TB corpus builds its ANN index ONCE and serves many probe batches;
# rebuilding centroids + posting assignments per query (ivf_topk /
# ivf_topk_md5 above, which stay as the self-contained paths) re-scans the
# whole corpus every time.  The artifacts follow the sketch-store posture
# (operators/sketches.py): plain parquet, overwrite-idempotent, hive layout.
#
#   <index_path>/meta/       one row: coarse kind, n_centroids, dim, columns
#   <index_path>/centroids/  (list, centroid) — kmeans flavor only (the md5
#                            coarse codebook is a deterministic literal and
#                            reconstructs from meta alone)
#   <index_path>/postings/   (id, vec) PARTITIONED BY list — a probe of
#                            n_probe lists prunes to n_probe/n_centroids of
#                            the files at the LISTING, before any scan


IVF_META = (
    "coarse string, n_centroids int, dim int, id_col string, "
    "vec_col string, id_type string"
)
IVFPQ_META = (
    "coarse string, n_centroids int, m int, n_codewords int, dim int, "
    "id_col string, vec_col string, id_type string"
)


def build_ivf_index(
    df: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: str = "md5",
    dim: int = 64,
    seed: int = 42,
    _fold: tuple[str, list[str]] | None = None,
) -> None:
    """Build → write the IVF index artifacts (idempotent: every part is an
    overwrite, so a replayed build leaves the index byte-identical).

    ``coarse='md5'`` uses the literal ±1 coarse codebook and the ordered
    fold-dot argmax — the exact :func:`ivf_topk_md5` assignment arithmetic,
    so a load-and-probe replays that oracle bit-for-bit.  ``coarse='kmeans'``
    trains the seeded Lloyd centroids of :func:`ivf_topk` and persists them
    under ``centroids/``.  ``_fold`` is :func:`store.commit_base`'s
    spent-id carry for :func:`rebuild_ivf_index`."""
    spark = df.sparkSession
    # everything that can FAIL without writing — flavor validation and the
    # kmeans driver-side training — runs BEFORE the live root is touched: a
    # typo'd coarse kind or a failed retrain must leave a previously
    # servable index serving, not meta-less (r14 review)
    if coarse == "md5":
        postings = _ivf_md5_list_postings(df, id_col, vec_col, n_centroids, dim)
    elif coarse == "kmeans":
        centroids = _train_centroids(df, vec_col, n_centroids, seed=seed, id_col=id_col)
        dim = int(centroids.shape[1])
        cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
        postings = _ivf_assign_expr(
            df.select(id_col, vec_col), vec_col, centroids, "__lists__", 1
        ).select(id_col, vec_col, F.element_at("__lists__", 1).alias("list"))
    else:
        raise ValueError(f"coarse must be 'md5' or 'kmeans', got {coarse!r}")

    def write() -> None:
        # the centroids land inside the meta-less window too (r13 ADVICE):
        # an in-place rebuild crashing right after centroids/ lands must
        # not leave OLD meta + OLD postings + NEW centroids serving
        if coarse == "kmeans":
            # coalesce(1), not repartition(1) (r18): a values_df
            # LocalRelation is a single JVM partition, so coalesce is a
            # no-op wrapper while repartition(1) inserted a round-robin
            # exchange — one extra driver-paced job per artifact write
            values_df(
                spark, cent_rows, "list int, centroid array<double>"
            ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")
        ST.write_batch(index_path, "base", {"postings": (postings, "list", id_col)})

    ST.commit_base(
        spark, index_path, write, IVF_META,
        (coarse, int(n_centroids), int(dim), id_col, vec_col, dict(df.dtypes)[id_col]),
        fold=_fold,
    )


def extend_ivf_index(
    df: DataFrame,
    index_path: str,
    batch_id: int | str = "adhoc",
    id_col: str | None = None,
    vec_col: str | None = None,
) -> None:
    """Incremental index maintenance — a growing corpus must NOT rebuild its
    ANN index per delivery.  New rows assign with the SAME coarse arithmetic
    the index was built with (md5 flavor: the literal codebook reconstructs
    from meta; kmeans flavor: the persisted centroids load back — so an
    extended index stays probe-compatible by construction) and land under
    ``postings/batch=<id>/list=<n>/``: the ``batch`` level gives the
    sketch-store idempotence (a replayed delivery overwrites its own
    partition instead of double-appending) and ``list`` stays a partition
    column at every level, so probe-side pruning is unchanged.
    :func:`ivf_topk_persisted` reads the postings root and sees base +
    extensions as one table (``build_ivf_index`` writes its base under
    ``batch=base`` through the root, which also clears stale extensions on
    a rebuild).  ``id_col``/``vec_col`` override the meta column names;
    the delivery is refused on a wrong id type or a tombstoned id, and its
    vector column is cast to the base's type (:func:`store.open_extension`)."""
    opened = ST.open_extension(
        df, index_path, batch_id, id_col, vec_col, vec_base=("postings", None)
    )
    if opened is None:
        return  # folded replay: the base already holds this delivery
    batch_id, meta, df, id_col = opened
    vec_col = meta.vec_col
    if meta.coarse == "md5":
        postings = _ivf_md5_list_postings(
            df, id_col, vec_col, int(meta.n_centroids), int(meta.dim)
        )
    elif meta.coarse == "kmeans":
        postings = _ivf_assign_expr(
            df.select(id_col, vec_col), vec_col,
            _kmeans_centroids(df.sparkSession, index_path), "__lists__", 1,
        ).select(id_col, vec_col, F.element_at("__lists__", 1).alias("list"))
    else:
        raise ValueError(f"unknown coarse kind {meta.coarse!r} in {index_path}")
    ST.write_batch(index_path, batch_id, {"postings": (postings, "list", id_col)})


def _probed_lists(postings: DataFrame, lists) -> DataFrame:
    """The postings of the probed lists only, as a LITERAL ``IN`` on the
    ``list`` partition column: static partition pruning, so only
    n_probe/n_centroids of the index files are even listed."""
    needed = sorted({int(x) for x in np.ravel(lists)})
    return postings.filter(F.col("list").isin(needed)) if needed else postings.limit(0)


def ivf_topk_persisted(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Load-and-probe against a :func:`build_ivf_index` store: query-side
    coarse assignment picks each query's ``n_probe`` lists, the union of
    needed lists becomes a LITERAL ``IN`` filter on the postings' partition
    column (static partition pruning — only n_probe/n_centroids of the
    index files are even listed), and candidates score with the flavor's
    own arithmetic, so the output is bit-identical to the corresponding
    build-and-probe path (``ivf_topk_md5`` / ``ivf_topk``).  The md5 probe
    shares :func:`ivf_topk_md5`'s score kernel and differs only in reading
    the stored list instead of assigning one."""
    meta = ST.read_meta_row(spark, index_path)
    id_col, vec_col = meta.id_col, meta.vec_col
    postings = ST.live_rows(
        spark, index_path, "postings", ST.committed_batches(spark, index_path),
        id_col=id_col,
    )
    n_centroids, dim = int(meta.n_centroids), int(meta.dim)

    if meta.coarse == "md5":
        qids, qmat = _collect_queries(
            queries, query_id_col, query_vec_col, max_query_rows, dim,
            "ivf_topk_persisted",
        )
        qn, probes, _ = _md5_query_tables(
            qmat, _md5_coarse_book(n_centroids, dim), n_probe=n_probe
        )

        def prepare(batch):
            return batch["list"].to_numpy(), _md5_normed(_as_matrix(batch[vec_col]), dim)

        return _topk_scan(
            _probed_lists(postings, probes).select(id_col, vec_col, "list"),
            (qids, probes, (qn,)), prepare, _md5_cosine_score, queries, k,
            id_col, query_id_col, "cosine",
        )
    if meta.coarse != "kmeans":
        raise ValueError(f"unknown coarse kind {meta.coarse!r} in {index_path}")
    # this flavor never driver-collects the queries (they broadcast into
    # the list join), so the limit-count guard stays a separate cheap job
    _guard_query_rows(queries, max_query_rows, "ivf_topk_persisted")
    probe_df = _ivf_assign_expr(
        queries.select(query_id_col, query_vec_col),
        query_vec_col,
        _kmeans_centroids(spark, index_path),
        "__lists__",
        n_probe,
    ).select(query_id_col, query_vec_col, F.explode("__lists__").alias("list"))
    # ≤ n_centroids values (driver-bounded by MAX_DRIVER_CENTROIDS)
    needed = [r["list"] for r in probe_df.select("list").distinct().collect()]
    pairs = _probed_lists(postings, needed).join(F.broadcast(probe_df), "list").select(
        F.col(query_id_col).alias("id1"),
        F.col(id_col).alias("id2"),
        F.col(query_vec_col).alias("__v1__"),
        F.col(vec_col).alias("__v2__"),
    )
    q_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(postings.dtypes)[id_col]
    candidates = _score_candidate_pairs(
        pairs, f"id1 {q_type}, id2 {id_type}, cosine double"
    ).select(F.col("id1").alias(query_id_col), F.col("id2").alias(id_col), "cosine")
    return _rank_topk(candidates, k, query_id_col, id_col, "cosine")


def ivf_pq_topk_md5(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF-PQ top-k with md5 ±1 coarse centroids AND residual codebooks —
    the ORACLE TWIN of :func:`ivf_pq_topk`, sharing literal artifacts with
    :func:`pq_topk_md5` the way the dedup twins share their downstreams.

    Every stage is exact ±-fold arithmetic: coarse assignment is argmax of
    16 constant-norm inner products (first-max tie), the residual
    ``v_norm - coarse[list]`` subtracts ±1 exactly, residual codes repeat
    the PQ argmax, and the score folds ``<q, c_list>`` (the base term) plus
    the m residual LUT lookups left-to-right.  Probe pruning is real: only
    corpus rows whose list is among the query's ``n_probe`` closest
    (by the same argmax order) are scored — the n_probe/n_centroids scan
    fraction that makes IVF the at-scale path.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    coarse, books = _md5_ivfpq_books(n_centroids, m, n_codewords, dim)
    qids, qmat = _collect_queries(
        queries, query_id_col, query_vec_col, max_query_rows, dim, "ivf_pq_topk_md5"
    )
    _, probes, tables = _md5_query_tables(qmat, coarse, books, n_probe)
    return _topk_scan(
        df.select(id_col, vec_col), (qids, probes, tables),
        lambda batch: _md5_ivfpq_encode(_as_matrix(batch[vec_col]), coarse, books, dim),
        _md5_lut_score, queries, k, id_col, query_id_col, "approx_cosine",
    )


def hard_negatives_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Per-anchor top-``k`` most-cosine-similar vectors with a DIFFERENT
    label — hard-negative mining for contrastive / metric training (the
    closest impostors, not random negatives, are what tighten a margin).

    Exact path: the corpus broadcasts as one dense float64 matrix
    (collected in one ``limit(cap+1)`` job that also enforces
    ``max_broadcast_rows``, like the near-dup exact path), each Arrow batch of
    anchors scores against it with a single BLAS matmul and selects its
    cross-label top-k locally — the local answer IS the global answer
    because every anchor sees the full corpus within its own row pass, so
    there is no shuffle and no window.  The anchor itself shares its own
    label and is excluded by the label mask for free.

    Determinism (module convention): scores round to 6 dp BEFORE selection,
    ties break to the minimum negative id; norms floor at 1e-12 so zero
    vectors score cosine 0, never NaN.

    At corpus scale the same selection composes with the blocking paths the
    way near-dup does: IVF/LSH-block first (`ivf_topk` / `lsh_topk`), then
    apply the cross-label top-k inside each block.
    """
    import pandas as pd

    from chat_data_pipeline_spark.session import repartition_for_compute

    id_type = dict(df.dtypes)[id_col]
    label_type = dict(df.dtypes)[label_col]
    pdf = (
        df.select(id_col, vec_col, label_col)
        .limit(max_broadcast_rows + 1)
        .toPandas()
    )
    if len(pdf) > max_broadcast_rows:
        raise ValueError(
            f"exact hard-negative mining would broadcast >{max_broadcast_rows} "
            f"vectors (max_broadcast_rows={max_broadcast_rows}); block with "
            "ivf_topk/lsh_topk first and apply the cross-label top-k per block"
        )
    bids = pdf[id_col].to_numpy()
    blabels = pdf[label_col].to_numpy()
    bmat = _as_matrix(pdf[vec_col])
    bnorms = np.maximum(np.sqrt((bmat * bmat).sum(axis=1)), 1e-12)
    bcast = df.sparkSession.sparkContext.broadcast((bids, blabels, bmat, bnorms))
    kk = int(k)

    def mine(batches):
        ids, labels, mat, norms = bcast.value
        for batch in filter(len, batches):
            aid = batch[id_col].to_numpy()
            alab = batch[label_col].to_numpy()
            m1 = _as_matrix(batch[vec_col])
            n1 = np.maximum(np.sqrt((m1 * m1).sum(axis=1)), 1e-12)
            sims = np.round((m1 @ mat.T) / np.outer(n1, norms), 6)
            rows = {c: [] for c in ("anchor_id", "anchor_label", "neg_id",
                                    "neg_label", "cosine", "rank")}
            for i in range(len(aid)):
                valid = labels != alab[i]
                if not valid.any():
                    continue
                s, vid, vlab = sims[i][valid], ids[valid], labels[valid]
                top = np.lexsort((vid, -s))[: min(kk, len(vid))]
                rows["anchor_id"].extend([aid[i]] * len(top))
                rows["anchor_label"].extend([alab[i]] * len(top))
                rows["neg_id"].extend(vid[top])
                rows["neg_label"].extend(vlab[top])
                rows["cosine"].extend(s[top])
                rows["rank"].extend(range(1, len(top) + 1))
            if rows["anchor_id"]:
                yield pd.DataFrame(rows)

    src = repartition_for_compute(df.select(id_col, vec_col, label_col))
    return src.mapInPandas(
        mine,
        schema=(
            f"anchor_id {id_type}, anchor_label {label_type}, "
            f"neg_id {id_type}, neg_label {label_type}, cosine double, rank int"
        ),
    )


def hard_negatives_topk_ivf(
    df: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seed: int = 42,
) -> DataFrame:
    """IVF-blocked hard-negative mining — the SCALE path the exact miner's
    docstring promises: every vector is simultaneously a corpus member (its
    single nearest coarse list) and an anchor (probing its ``n_probe``
    closest lists), so candidate pairs are generated per-list instead of
    all-vs-all and the scan fraction is ≈ n_probe/n_centroids.

    Same downstream contract as :func:`hard_negatives_topk` (cross-label
    only, 6-dp rounding, min-neg-id tie-break, rank 1..k per anchor);
    approximate by construction — a true nearest impostor in an unprobed
    list is missed, recall vs the exact miner is asserted in tests.  A
    (anchor, negative) pair is generated at most once because the corpus
    side lives in exactly one list; no cross-probe dedup needed.
    """
    base = df.select(id_col, vec_col, label_col)
    centroids = _train_centroids(base, vec_col, n_centroids, seed=seed, id_col=id_col)
    corpus = _ivf_assign_expr(base, vec_col, centroids, "__lists__", 1).select(
        F.col(id_col).alias("__cid__"),
        F.col(vec_col).alias("__v2__"),
        F.col(label_col).alias("__clab__"),
        F.element_at("__lists__", 1).alias("__list__"),
    )
    anchors = _ivf_assign_expr(base, vec_col, centroids, "__lists__", n_probe).select(
        F.col(id_col).alias("__aid__"),
        F.col(vec_col).alias("__v1__"),
        F.col(label_col).alias("__alab__"),
        F.explode("__lists__").alias("__list__"),
    )
    id_type = dict(df.dtypes)[id_col]
    label_type = dict(df.dtypes)[label_col]
    pairs = corpus.join(anchors, "__list__").filter(
        (F.col("__clab__") != F.col("__alab__"))
        & (F.col("__cid__") != F.col("__aid__"))
    ).select(
        F.col("__aid__").alias("id1"),
        F.col("__cid__").alias("id2"),
        "__v1__",
        "__v2__",
        F.col("__alab__").alias("anchor_label"),
        F.col("__clab__").alias("neg_label"),
    )
    scored = _score_candidate_pairs(
        pairs,
        schema=(
            f"id1 {id_type}, id2 {id_type}, cosine double, "
            f"anchor_label {label_type}, neg_label {label_type}"
        ),
        extra_cols=("anchor_label", "neg_label"),
    )
    w = Window.partitionBy("id1").orderBy(F.col("cosine").desc(), F.col("id2").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id1").alias("anchor_id"),
            "anchor_label",
            F.col("id2").alias("neg_id"),
            "neg_label",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    target_cluster_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540 —
    public methodology): k-means-partition the embedding space, then remove
    cosine-≥-threshold near-duplicates WITHIN each cluster, keeping the
    min-id member of every duplicate component (the dedup-family survivor
    rule).  Cross-cluster near-dups are intentionally out of contract — the
    clustering IS the blocking step that makes the quadratic local.

    Scale (100 TB): pairwise work drops from O(N²) to Σ_c O(|c|²); clusters
    must stay bounded as the corpus grows (SemDeDup used 50k clusters for
    LAION-440M), so ``n_clusters=None`` (the default) derives it from the
    corpus: ``ceil(count / target_cluster_size)`` — one cheap count()
    action, and per-cluster work stays ~target² sims at ANY corpus size.
    Pass an explicit ``n_clusters`` only for tests / known-small corpora.
    Centroid training is a bounded driver-side sample (deterministic
    md5-ordered, seeded Lloyd — reused from the IVF build); assignment is
    one narrow Arrow-batched matmul pass; per-cluster dedup is an
    ``applyInPandas`` group task with no driver state.  The only wide op
    is the one groupBy(cluster) shuffle + the survivor semi-join.
    """
    import math

    import pandas as pd

    # ONE upstream computation (r17, guide §1.2): the sizing count, the
    # centroid sample and the assignment pass each re-executed the caller's
    # input plan (for a union/transform-shaped input that is 3 full
    # upstream computations); the narrow (id, vec) projection checkpoints
    # lazily — the count below materializes it — and the two later passes
    # read the stored blocks.  The final survivor semi-join still reads the
    # ORIGINAL df (all caller columns, one more pass), as before.
    work = df.select(id_col, vec_col).localCheckpoint(eager=False)
    if n_clusters is None:
        n_clusters = max(4, math.ceil(work.count() / target_cluster_size))
    # sample_rows auto-scales with n_clusters inside _train_centroids
    # (max(10k, 8·n_clusters)) — a fixed sample would silently cap the
    # trained centroid count and let per-cluster size grow with the corpus,
    # defeating the ~target² bound this docstring promises; beyond
    # MAX_DRIVER_CENTROIDS the trainer fails with guidance instead.
    centroids = _train_centroids(work, vec_col, n_clusters, seed=seed, id_col=id_col)
    assigned = _ivf_assign_expr(
        work, vec_col, centroids, "__lists__", 1
    ).select(id_col, vec_col, F.element_at("__lists__", 1).alias("__cluster__"))
    id_type = dict(df.dtypes)[id_col]
    thr = float(threshold)

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        mat = _as_matrix(pdf[vec_col].to_numpy()[order])
        # zero-norm guard: an all-zero embedding would otherwise yield a NaN
        # row in sims (NaN >= thr is False, so zero vectors silently never
        # dedup); with the eps floor they normalize to the zero vector and
        # score cosine 0 against everything — kept, deterministically.
        normed = _l2_normalize(mat)
        # same 6-dp rounding as every other cosine path in this module, so
        # threshold decisions agree with the pair/LSH operators bit-for-bit
        sims = np.round(normed @ normed.T, 6)
        parent = np.arange(len(ids))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, j in zip(*np.nonzero(np.triu(sims >= thr, k=1))):
            ri, rj = find(int(i)), find(int(j))
            if ri != rj:  # ids ascend with index → min root = min id
                lo, hi = (ri, rj) if ri < rj else (rj, ri)
                parent[hi] = lo
        keep = [i for i in range(len(ids)) if find(i) == i]
        return pd.DataFrame({id_col: ids[keep]})

    kept = assigned.groupBy("__cluster__").applyInPandas(
        dedup_cluster, schema=f"{id_col} {id_type}"
    )
    return df.join(kept, on=id_col, how="left_semi")


def ivf_index_drift_report(spark, index_path: str) -> DataFrame:
    """Extended-index health diagnostic (r13): ``extend_ivf_index`` keeps
    the base coarse structure forever — correct for probe compatibility,
    but a delivery distribution that drifts away from the base corpus
    silently degrades recall (vectors land in lists whose centroid no
    longer represents them, and hot lists blunt the probe pruning).  This
    report reads the index's OWN postings and scores every batch:

    - ``n_vectors`` — batch size;
    - ``n_lists_used`` — distinct lists the batch occupies;
    - ``mean_assign_score_micros`` — mean fit between each vector and its
      assigned list, integer micros (the 6-decimal precision every
      cross-engine twin in this repo rounds to), HIGHER = snugger.  md5
      flavor: the assign fold-dot (normed vector · coarse row) the build
      maximized; kmeans flavor: negative squared L2 to the assigned
      centroid;
    - ``occupancy_skew_nanos`` — the batch's hottest list as a
      multiple-of-uniform share in nanos (1e9 = perfectly balanced,
      n_centroids·1e9 = everything in one list).

    Documented rebuild thresholds: re-train the coarse structure when a
    delivery's ``mean_assign_score_micros`` falls below ~0.8× the base
    batch's, or its ``occupancy_skew_nanos`` exceeds ~4·1e9 while the
    base sits near 1e9 — both signal the quantizer no longer matches the
    data it is indexing.

    Scale shape: one Arrow pass over the postings (the scoring), one
    map-side-combined (batch, list) count agg (the occupancy) — nothing
    ever collects beyond O(batches × n_centroids) rows.
    """
    import pandas as pd

    meta = ST.read_meta_row(spark, index_path)
    n_centroids, dim = int(meta.n_centroids), int(meta.dim)
    vec_col = meta.vec_col
    postings = ST.committed_read(
        spark, index_path, "postings", ST.committed_batches(spark, index_path)
    )

    if meta.coarse == "md5":
        cent = _md5_coarse_book(n_centroids, dim)

        def fit_micros(mat: np.ndarray, lists: np.ndarray) -> np.ndarray:
            dots = _fold_subspace_dots(_md5_normed(mat, dim), cent, 0)
            return _half_away_micros(dots[np.arange(len(mat)), lists])

    elif meta.coarse == "kmeans":
        cent = _kmeans_centroids(spark, index_path)

        def fit_micros(mat: np.ndarray, lists: np.ndarray) -> np.ndarray:
            d2 = ((mat - cent[lists]) ** 2).sum(axis=1)
            return _half_away_micros(-d2)

    else:
        raise ValueError(f"unknown coarse kind {meta.coarse!r} in {index_path}")

    def score(batches):
        for batch in filter(len, batches):
            lists = batch["list"].to_numpy().astype(np.int64)
            yield pd.DataFrame(
                {
                    "batch": batch["batch"].astype(str),
                    "list": lists,
                    "fit_micros": fit_micros(_as_matrix(batch[vec_col]), lists),
                }
            )

    scored = postings.select("batch", "list", vec_col).mapInPandas(
        score, schema="batch string, list long, fit_micros long"
    )
    per_list = scored.groupBy("batch", "list").agg(
        F.count("*").alias("__n__"),
        F.sum("fit_micros").alias("__fit_sum__"),
    )
    return (
        per_list.groupBy("batch")
        .agg(
            F.sum("__n__").cast("long").alias("n_vectors"),
            F.count("*").cast("long").alias("n_lists_used"),
            # `div` truncates toward zero, exactly like DuckDB 1.0's integer
            # `//` (verified: -7 // 2 = -3 there, NOT floor's -4) — so the
            # negative fit sums the md5/kmeans flavors produce divide
            # identically cross-engine
            F.expr("sum(__fit_sum__) div sum(__n__)").alias(
                "mean_assign_score_micros"
            ),
            F.expr(f"(max(__n__) * {n_centroids}L * 1000000000L) div sum(__n__)").alias(
                "occupancy_skew_nanos"
            ),
        )
        .orderBy("batch")
    )


def compact_ivf_index(spark, index_path: str, dst_index: str | None = None) -> None:
    """Compact base + committed extension batches into a single fresh base
    (the text index's LSM-style maintenance applied to ANN): probes list
    O(batches × lists) directories on a long-extended index, and
    :func:`ivf_index_drift_report` loses per-delivery resolution anyway
    once deliveries are folded — compaction restores single-batch probe
    cost while keeping the postings BIT-IDENTICAL as a set (assignments
    were made with the index's own coarse arithmetic when each batch
    landed, so no vector moves lists).

    ``dst_index=None`` compacts IN PLACE (eager localCheckpoint pins the
    postings before the overwrite — fine at single-node scale); a 100 TB
    deployment passes ``dst_index`` to stream into a fresh root with no
    checkpoint and swaps probes over (write-then-swap)."""
    meta = ST.read_meta_row(spark, index_path)
    # payload column by flavor: the compressed md5pq store folds its codes,
    # the full-precision flavors their vectors — assignments never move
    # lists either way, so compaction is layout-only for all of them; the
    # tombstone anti-join makes deletes physical (the commit clears the set)
    payload = "pq_code" if meta.coarse == "md5pq" else meta.vec_col
    committed = ST.committed_batches(spark, index_path)
    postings = ST.live_rows(
        spark, index_path, "postings", committed, id_col=meta.id_col
    ).select(meta.id_col, payload, "list")
    cent = None
    if meta.coarse == "kmeans":
        cent = spark.read.parquet(f"{index_path}/centroids")
    if dst_index is None:
        postings = postings.localCheckpoint(eager=True)
        if cent is not None:
            cent = cent.localCheckpoint(eager=True)
        dst_index = index_path

    def write() -> None:
        if cent is not None:
            cent.coalesce(1).write.mode("overwrite").parquet(
                f"{dst_index}/centroids"
            )
        ST.write_batch(
            dst_index, "base", {"postings": (postings, "list", meta.id_col)}
        )

    # carry id_type forward (r15: the extend guards read it from meta; a
    # pre-r15 root lacks the field, so recover it from the postings once)
    id_type = ST.meta_id_type(spark, index_path, meta, postings)
    if meta.coarse == "md5pq":
        schema, row = IVFPQ_META, (
            meta.coarse, int(meta.n_centroids), int(meta.m),
            int(meta.n_codewords), int(meta.dim), meta.id_col, meta.vec_col,
            id_type,
        )
    else:
        schema, row = IVF_META, (
            meta.coarse, int(meta.n_centroids), int(meta.dim), meta.id_col,
            meta.vec_col, id_type,
        )
    ST.commit_base(
        spark, dst_index, write, schema, row, fold=(index_path, committed)
    )


def rebuild_ivf_index(
    spark,
    index_path: str,
    dst_index: str | None = None,
    n_centroids: int | None = None,
    seed: int = 42,
) -> None:
    """Coarse-retrain + cutover — the REPAIR action for a drifted index
    (r13 verdict item 5: :func:`ivf_index_drift_report` diagnoses a
    quantizer that no longer matches the data it indexes, and compaction
    deliberately keeps the old centroids; this operator acts on the
    signal).  Reads the base + every ledger-committed extension back as
    one corpus, RE-TRAINS the coarse structure over that union, re-assigns
    every vector, and writes a fresh root via :func:`build_ivf_index` —
    inheriting the salted list-clustered writes, the meta-deleted-first /
    meta-written-last crash window, and the ledger reset.

    Flavor semantics:

    - ``kmeans`` — the retrain is the whole point: Lloyd over the union
      adapts the centroids to the drifted mixture, so a post-rebuild
      :func:`ivf_index_drift_report` shows the mean assign fit recover and
      the hottest-list skew relax (tested over a deliberately drifted
      delivery).
    - ``md5`` — the coarse codebook is a deterministic literal (seeded by
      ``'ivfpq_coarse'``), so a rebuild at the same ``n_centroids`` is
      assignment-identical to a compaction and probes stay BIT-EXACT; pass
      a larger ``n_centroids`` to re-shard a grown corpus into more lists
      (finer pruning) while keeping the md5 twin's oracle arithmetic.

    ``dst_index=None`` rebuilds IN PLACE (the union is pinned with an
    eager localCheckpoint before the overwrite — fine at single-node
    scale); a 100 TB deployment passes ``dst_index`` to stream into a
    fresh root with no checkpoint and swaps probes over once the rebuild
    commits (write-then-swap, zero-downtime).  The probe cutover itself is
    the caller's pointer swap — probes hitting the OLD root keep serving
    the old index throughout; ``store.swap_index_alias`` /
    ``resolve_index_alias`` provide that pointer as an operator (atomic
    versioned rename, refuses meta-less targets).
    """
    meta = ST.read_meta_row(spark, index_path)
    if meta.coarse == "md5pq":
        raise ValueError(
            "rebuild_ivf_index cannot rebuild a compressed md5pq index: PQ "
            "storage is lossy (codes only, no vectors) — rebuild from the "
            "source corpus with build_ivfpq_index, or compact_ivf_index for "
            "layout maintenance"
        )
    # tombstoned ids excluded: the retrain must not learn from deleted
    # vectors, and the rebuilt root makes the deletes physical
    # (build_ivf_index clears the tombstone set inside its meta-less window)
    committed = ST.committed_batches(spark, index_path)
    union = ST.live_rows(
        spark, index_path, "postings", committed, id_col=meta.id_col
    ).select(meta.id_col, meta.vec_col)
    if dst_index is None:
        union = union.localCheckpoint(eager=True)
        dst_index = index_path
    # the spent-id manifest carries through build_ivf_index's base commit
    # (store.commit_base): classified WHILE the tombstone dirs still exist
    # and written to dst BEFORE the new base can serve (r15 review: a
    # post-meta write left a crash window with a healthy root and no
    # manifest — exactly the replay double-count hole it closes)
    build_ivf_index(
        union,
        dst_index,
        n_centroids=int(n_centroids or meta.n_centroids),
        id_col=meta.id_col,
        vec_col=meta.vec_col,
        coarse=meta.coarse,
        dim=int(meta.dim),
        seed=seed,
        _fold=(index_path, committed),
    )


def _ivf_md5_list_postings(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int, dim: int
) -> DataFrame:
    """(id, vector, list) posting rows under the md5 IVF coarse arithmetic
    — the literal ±1 codebook and ordered fold-dot argmax of
    :func:`ivf_topk_md5`, shared by the persisted build and extend so the
    two can never diverge."""
    coarse = _md5_coarse_book(n_centroids, dim)

    def assign(batches):
        for batch in filter(len, batches):
            normed = _md5_normed(_as_matrix(batch[vec_col]), dim)
            out = batch.copy()
            out["list"] = _md5_assign(normed, coarse).astype("int32")
            yield out

    dtypes = dict(df.dtypes)
    return df.select(id_col, vec_col).mapInPandas(
        assign,
        schema=f"{id_col} {dtypes[id_col]}, {vec_col} {dtypes[vec_col]}, list int",
    )


def _kmeans_centroids(spark, index_path: str) -> np.ndarray:
    """A kmeans IVF store's persisted centroids, in list order."""
    rows = spark.read.parquet(f"{index_path}/centroids").orderBy("list").collect()
    return np.asarray([r.centroid for r in rows], dtype=np.float64)


def _ivfpq_code_postings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    m: int,
    n_codewords: int,
    dim: int,
) -> DataFrame:
    """(id, list, pq_code) posting rows under the md5 IVF-PQ arithmetic —
    the EXACT coarse-argmax + residual-code assignment of
    :func:`ivf_pq_topk_md5` (:func:`_md5_ivfpq_encode`), so the persisted
    build/extend and the in-flight twin can never diverge."""
    import pandas as pd

    coarse, books = _md5_ivfpq_books(n_centroids, m, n_codewords, dim)

    def assign(batches):
        for batch in filter(len, batches):
            lists, codes = _md5_ivfpq_encode(
                _as_matrix(batch[vec_col]), coarse, books, dim
            )
            yield pd.DataFrame(
                {
                    id_col: batch[id_col],
                    "list": lists.astype("int32"),
                    "pq_code": [row.astype("int32").tolist() for row in codes],
                }
            )

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} {id_type}, list int, pq_code array<int>"
    )


def build_ivfpq_index(
    df: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _fold: tuple[str, list[str]] | None = None,
) -> None:
    """Persist the COMPRESSED ANN index: (id, list, pq_code) postings only —
    no raw vectors.  This is the variant that actually fits 100 TB of
    embeddings in serving storage: the full-precision IVF index stores
    dim × 4-8 bytes per vector (256-512 B at dim=64) where this one stores
    the m residual codes (m × 4 B as a plain int array here; a production
    sink would pack them into an m-byte binary — the layout, pruning and
    arithmetic are identical either way, so the plumbing is what this
    operator pins down).

    md5 flavor only, deliberately: every codebook is a literal
    parameter-derived construct, so meta carries just the params and a
    probe reconstructs the exact :func:`ivf_pq_topk_md5` arithmetic —
    probes of the persisted index are BIT-IDENTICAL to the in-flight twin
    (tested), which is itself oracle-hash-verified.  The trained-float PQ
    path keeps its recall pytests; persisting it would need codebook
    artifacts like the kmeans centroids.

    Lifecycle posture shared with the other stores: salted list-clustered
    writes, meta deleted first / written LAST, ledger reset, tombstones
    cleared in the meta-less window.  NOTE: storage is LOSSY — a rebuild
    at different params needs the source corpus, not the index (inherent
    to PQ); compaction and deletes work normally.  ``_fold`` is
    :func:`store.commit_base`'s spent-id carry for
    :func:`rebuild_ivfpq_index`."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    postings = _ivfpq_code_postings(
        df, id_col, vec_col, n_centroids, m, n_codewords, dim
    )
    ST.commit_base(
        df.sparkSession, index_path,
        lambda: ST.write_batch(
            index_path, "base", {"postings": (postings, "list", id_col)}
        ),
        IVFPQ_META,
        ("md5pq", int(n_centroids), int(m), int(n_codewords), int(dim),
         id_col, vec_col, dict(df.dtypes)[id_col]),
        fold=_fold,
    )


def extend_ivfpq_index(
    df: DataFrame,
    index_path: str,
    batch_id: int | str,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> None:
    """Deliver one vector batch into the compressed index — codes assigned
    with the index's own (meta-pinned) arithmetic, same ledger-committed /
    replay-idempotent / tombstone-guarded contract as the other stores.
    ``id_col``/``vec_col`` override the meta COLUMN NAMES when the
    delivered frame uses its own (config-driven callers pass theirs
    instead of pre-reading meta — one meta read per delivery)."""
    opened = ST.open_extension(df, index_path, batch_id, id_col, vec_col)
    if opened is None:
        return  # folded replay: the base already holds this delivery
    batch_id, meta, df, id_col = opened
    if meta.coarse != "md5pq":
        raise ValueError(f"{index_path} is not an IVF-PQ index (coarse={meta.coarse!r})")
    postings = _ivfpq_code_postings(
        df, id_col, meta.vec_col, int(meta.n_centroids), int(meta.m),
        int(meta.n_codewords), int(meta.dim),
    )
    ST.write_batch(index_path, batch_id, {"postings": (postings, "list", id_col)})


def rebuild_ivfpq_index(
    spark,
    index_path: str,
    vectors_df: DataFrame,
    dst_index: str | None = None,
    n_centroids: int | None = None,
    m: int | None = None,
    n_codewords: int | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> None:
    """Re-shard / re-encode the COMPRESSED index from explicitly-supplied
    source vectors (r16, closing the r15 verdict's re-shard gap): PQ
    storage is lossy — codes only, no vectors — so ``rebuild_ivf_index``
    correctly REFUSES md5pq roots and a long-lived compressed store whose
    coarse quantizer outgrew its corpus had no in-engine recovery.  This
    operator is that recovery: the caller hands back the source embedding
    corpus (the one artifact a compressed store cannot reconstruct), and
    the rebuild re-encodes it at the same — or re-sharded — parameters
    through the normal build path.

    Contract mirrored from :func:`rebuild_ivf_index`:

    - currently-tombstoned ids are EXCLUDED from the supplied corpus, so
      the rebuild makes pending deletes physical;
    - the spent-id manifest carries forward and gains this rebuild's
      committed batch ids, written to dst BEFORE the new base can serve
      (``build_ivfpq_index(_fold=...)`` keeps it through the
      meta-less window) — a crash-replayed delivery of a folded id stays
      a no-op on the rebuilt root;
    - VALIDATES before invalidating: param divisibility, id-column type
      and the md5pq flavor are all checked while the live root still
      serves, so a bad corpus frame cannot brick an in-place rebuild;
    - ``dst_index=None`` rebuilds in place (tombstone anti-join pinned
      with an eager localCheckpoint before the overwrite); a 100 TB
      deployment passes ``dst_index`` and swaps probes over with
      ``store.swap_index_alias`` (write-then-swap, zero-downtime).

    Pass a larger ``n_centroids`` to re-shard a grown corpus into more
    lists (finer file-listing pruning) while keeping the literal-codebook
    arithmetic — probes of the rebuilt root are BIT-IDENTICAL to a fresh
    ``build_ivfpq_index`` over the retained vectors at the same params
    (tested, and driver-hashed via ``ann_ivfpq_rebuild_report``)."""
    meta = ST.read_meta_row(spark, index_path)
    if meta.coarse != "md5pq":
        raise ValueError(
            f"{index_path} is not an IVF-PQ index (coarse={meta.coarse!r}); "
            "rebuild_ivf_index handles the full-precision flavors"
        )
    new_nc = int(n_centroids or meta.n_centroids)
    new_m = int(m or meta.m)
    new_cw = int(n_codewords or meta.n_codewords)
    if int(meta.dim) % new_m:
        raise ValueError(f"dim {meta.dim} not divisible by m={new_m} subspaces")
    union = vectors_df.select(
        F.col(id_col or meta.id_col).alias(meta.id_col),
        F.col(vec_col or meta.vec_col).alias(meta.vec_col),
    )
    ST.guard_delivery_id_type(
        union, meta.id_col, ST.meta_id_type(spark, index_path, meta), index_path
    )
    committed = ST.committed_batches(spark, index_path)
    union = ST.drop_tombstoned(index_path, committed, union, id_col=meta.id_col)
    if dst_index is None:
        # the anti-join reads this root's tombstones, which the build
        # deletes inside its meta-less window — pin the retained set first
        union = union.localCheckpoint(eager=True)
        dst_index = index_path
    # spent-id manifest BEFORE the new base can serve, through the base
    # commit (carries src history forward, spends this rebuild's committed
    # ids, clears a reused foreign dst's stale manifest)
    build_ivfpq_index(
        union,
        dst_index,
        n_centroids=new_nc,
        m=new_m,
        n_codewords=new_cw,
        dim=int(meta.dim),
        id_col=meta.id_col,
        vec_col=meta.vec_col,
        _fold=(index_path, committed),
    )


def ivfpq_topk_persisted(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Serve approximate top-k from the COMPRESSED index: query-side coarse
    assignment picks each query's lists, the union prunes the postings at
    the file LISTING, and candidates score as base coarse dot + m residual
    LUT lookups in the twin's exact left-to-right fold — BIT-IDENTICAL to
    :func:`ivf_pq_topk_md5` over the same corpus (tested), at 1/16th-ish
    the storage and scan bytes of the full-precision probe.  It shares the
    twin's score kernel and differs only in reading the stored list and
    codes instead of encoding them."""
    meta = ST.read_meta_row(spark, index_path)
    if meta.coarse != "md5pq":
        raise ValueError(f"{index_path} is not an IVF-PQ index (coarse={meta.coarse!r})")
    id_col, dim = meta.id_col, int(meta.dim)
    postings = ST.live_rows(
        spark, index_path, "postings", ST.committed_batches(spark, index_path),
        id_col=id_col,
    )
    coarse, books = _md5_ivfpq_books(
        int(meta.n_centroids), int(meta.m), int(meta.n_codewords), dim
    )
    qids, qmat = _collect_queries(
        queries, query_id_col, query_vec_col, max_query_rows, dim,
        "ivfpq_topk_persisted",
    )
    _, probes, tables = _md5_query_tables(qmat, coarse, books, n_probe)
    return _topk_scan(
        _probed_lists(postings, probes).select(id_col, "list", "pq_code"),
        (qids, probes, tables), _stored_codes, _md5_lut_score, queries, k,
        id_col, query_id_col, "approx_cosine",
    )
