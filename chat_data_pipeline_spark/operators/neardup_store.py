"""Persisted SRP-LSH embedding near-dup store (r15): cross-corpus
SEMANTIC onboarding with the build-once lifecycle.

The MinHash signature store (``dedup_store``) answers "is this new
document a lexical near-copy of anything we already keep?" — this store
answers the same question at the EMBEDDING level (paraphrases,
translations, templated rewrites that shingle differently but embed
together): the reference corpus' SRP bucket postings and normalized-fold
verify vectors persist once, and every onboarding run fingerprints only
the NEW side, bucket-joins, and cosine-verifies the collisions.

Fingerprint family: the md5-derived Rademacher sign planes
(:func:`similarity.srp_md5_sign_planes`) — the cross-engine family the
registered ``embedding_neardup_lsh_md5`` twin already proves bit-exact,
so the store's whole build→deliver→takedown→probe lifecycle
value-hashes against a from-scratch DuckDB recomputation (registered
``embedding_onboarding_indexed``).

Lifecycle posture shared with the other three stores (BM25 / IVF(-PQ) /
signature): salted hive-partitioned writes, per-delivery commit ledger
(marker LAST — crashed deliveries invisible), meta deleted first /
written LAST on every base (re)build, id-level tombstone deletes that
probes anti-join, compaction making deletes physical, cross-kind
batch-id guard, refuse-at-delivery id-type guard.

100 TB shape: postings are (id, table, bucket) rows partitioned by
``(batch, t)``; the probe's heavy side is the NEW delivery's single
fingerprint pass; the collision join keys on (t, b) where plane count
controls occupancy; the verify join re-fetches only collided ids'
vectors.  The store does re-ship reference VECTORS (the verify needs
them) — that is inherent to cosine-verified near-dup, and still a
one-time cost vs re-embedding or re-shipping the corpus text.

No reference parity claimed — extension surface, same as the other
persisted stores.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import store as ST
from chat_data_pipeline_spark.operators.similarity import srp_md5_sign_planes

NEARDUP_META = (
    "n_planes int, n_tables int, dim int, threshold double, "
    "id_type string, id_col string, vec_col string"
)


def _srp_bucket_udf(n_planes: int, n_tables: int, dim: int):
    """Arrow-batched bucket assignment under the md5 sign-plane family —
    the exact columnwise-fold arithmetic of
    :func:`similarity.embedding_neardup_pairs_srp_md5` (per-row ordered
    IEEE sums, identical bits to DuckDB's list_reduce), returning the
    per-table bucket array for posexplode."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = srp_md5_sign_planes(dim, n_planes, n_tables)
    sign_mats = [np.asarray(planes[t], dtype=np.float64) for t in range(n_tables)]

    def bucket_batch(vs):
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in vs])
        out = []
        if len(mat):
            if mat.shape[1] != dim:
                raise ValueError(
                    f"embedding dim {mat.shape[1]} != store dim {dim}"
                )
            tbl = np.zeros((len(mat), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for p in range(n_planes):
                    acc = np.zeros(len(mat))
                    srow = sign_mats[t][p]
                    for j in range(dim):
                        acc = acc + mat[:, j] * srow[j]
                    tbl[:, t] = tbl[:, t] * 2 + (acc >= 0).astype(np.int64)
            out = [row.tolist() for row in tbl]
        return pd.Series(out, dtype=object)

    return pandas_udf(bucket_batch, "array<long>")


def _postings_and_vectors(
    df: DataFrame, id_col: str, vec_col: str,
    n_planes: int, n_tables: int, dim: int,
    eager: bool = True,
) -> tuple[DataFrame, DataFrame]:
    # eager=True for deliveries (store.write_batch races two concurrent
    # write jobs over the base — it must be materialized first); the PROBE path
    # passes eager=False so its single collision/verify action materializes
    # the blocks as a side effect instead of paying a dedicated job
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).localCheckpoint(eager=eager)
    buckets = _srp_bucket_udf(n_planes, n_tables, dim)
    posting = base.select("id", F.posexplode(buckets(F.col("v"))).alias("t", "b"))
    return posting, base


def _artifacts(posting: DataFrame, vectors: DataFrame) -> dict:
    """The batch's two artifacts for :func:`store.write_batch`: the
    t-partitioned bucket postings (salted on the bucket) and the verify
    vectors."""
    return {"postings": (posting, "t", "b"), "vectors": (vectors, None, None)}


def build_neardup_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 4,
    dim: int = 64,
    threshold: float = 0.45,
) -> None:
    """Fingerprint the reference embedding corpus ONCE and persist its SRP
    bucket postings + verify vectors.  Plane/table counts and the cosine
    threshold are build-time constants pinned in meta (every delivery and
    probe uses exactly the arithmetic the base was built with).

    ``n_planes=None`` (the default) applies the corpus-scaled occupancy
    rule the in-corpus LSH row uses: 4 planes at the 500-vector gate,
    +1 per corpus doubling — measured necessary, not theoretical: a
    4-plane store probed at 10× corpus read exponent 0.72 (fixed 16
    buckets/table saturate, the collision join grows ~quadratically in
    FALSE candidates); the scaled rule keeps per-bucket occupancy — and
    with it probe cost — near-constant as the build corpus grows.  One
    ``count()`` at build time pays for it.  A long-extended store
    eventually outgrows its pinned plane count the same way; that is the
    `maintenance_plan` compact/rebuild signal — rebuild from the source
    corpus at the new size (params change = rebuild, as with every
    fingerprint store)."""
    import math

    from pyspark.sql import Observation

    spark = df.sparkSession
    # the plane-rule count rides the verify-vector base's checkpoint
    # materialization as an observed metric (r17, guide §1.2): the former
    # separate df.count() was a SECOND full pass over the build corpus
    # before fingerprinting could start
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    obs = None
    if n_planes is None:
        obs = Observation()
        base = base.observe(obs, F.count(F.lit(1)).alias("n"))
    base = base.localCheckpoint(eager=True)
    if obs is not None:
        n = int(obs.get["n"] or 0)
        n_planes = 4 + max(0, int(math.floor(math.log2(max(n, 1) / 500.0))))
    buckets = _srp_bucket_udf(int(n_planes), int(n_tables), int(dim))
    posting = base.select("id", F.posexplode(buckets(F.col("v"))).alias("t", "b"))
    ST.commit_base(
        spark, index_path,
        lambda: ST.write_batch(index_path, "base", _artifacts(posting, base)),
        NEARDUP_META,
        (
            int(n_planes), int(n_tables), int(dim), float(threshold),
            dict(df.dtypes)[id_col], id_col, vec_col,
        ),
    )


def extend_neardup_index(
    df: DataFrame,
    index_path: str,
    batch_id: int | str,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> None:
    """Deliver one embedding batch — fingerprinted with the store's
    meta-pinned planes, ledger-committed, replay-idempotent,
    tombstone-guarded and id-type-guarded like every other store
    delivery.  ``id_col``/``vec_col`` override the meta column names."""
    opened = ST.open_extension(
        df, index_path, batch_id, id_col, vec_col, vec_base=("vectors", "v")
    )
    if opened is None:
        return  # folded replay: the base already holds this delivery
    batch_id, meta, df, id_col = opened
    posting, vectors = _postings_and_vectors(
        df, id_col, meta.vec_col,
        int(meta.n_planes), int(meta.n_tables), int(meta.dim),
    )
    ST.write_batch(index_path, batch_id, _artifacts(posting, vectors))


def compact_neardup_index(
    spark, index_path: str, dst_index: str | None = None
) -> None:
    """Fold base + committed deliveries (minus tombstones, which become
    physical) into a single fresh base — postings AND vectors move
    together so the verify side can never dangle.  Same in-place
    (checkpoint-pinned) vs write-then-swap (``dst_index``) split as the
    other stores' compactors."""
    meta = ST.read_meta_row(spark, index_path)
    committed = ST.committed_batches(spark, index_path)
    posting = ST.committed_read(spark, index_path, "postings", committed)
    vectors = ST.committed_read(spark, index_path, "vectors", committed)
    posting, vectors = ST.drop_tombstoned(
        index_path, committed,
        posting.select("id", "t", "b"), vectors.select("id", "v"),
        id_col="id",
    )
    if dst_index is None:
        posting = posting.localCheckpoint(eager=True)
        vectors = vectors.localCheckpoint(eager=True)
        dst_index = index_path
    # the in-place inputs are pinned by the eager checkpoints, so the
    # base write may clear the trees they were read from; the meta
    # carries forward unchanged
    ST.commit_base(
        spark, dst_index,
        lambda: ST.write_batch(dst_index, "base", _artifacts(posting, vectors)),
        NEARDUP_META, tuple(meta), fold=(index_path, committed),
    )


def matched_against_neardup_index(
    spark,
    index_path: str,
    new_df: DataFrame,
    id_col: str | None = None,
    vec_col: str | None = None,
    _meta=None,
) -> DataFrame:
    """The MATCHED new-side ids — every ``new_df`` row whose embedding
    bucket-collides with a live reference entry AND fold-cosines at or
    above the store's pinned threshold; one column named after the probed
    id column.  The caller anti-joins this (``filter_against_neardup_
    index`` does exactly that), which keeps the match/survive decision
    separable: a consumer restricting the probe to a SUBSET of its rows
    (the ``onboard_semantic`` side-table shape) must anti-join the
    matches, never semi-join the survivors — rows that were never probed
    would otherwise silently disappear as if they had matched.

    ``_meta``: a caller that already read the store meta Row passes it
    through (one meta read per probe, not one per layer — r17)."""
    meta = _meta or ST.read_meta_row(spark, index_path)
    nid = id_col or meta.id_col
    nvec = vec_col or meta.vec_col
    committed = ST.committed_batches(spark, index_path)
    # the verify side rides the postings prune: a tombstoned id has no
    # surviving posting row, so its vector can never be re-fetched
    ref_post = ST.drop_tombstoned(
        index_path,
        committed,
        ST.committed_read(spark, index_path, "postings", committed).select(
            F.col("id").alias("rid"), "t", "b"
        ),
        id_col="rid",
    )
    ref_vecs = ST.committed_read(spark, index_path, "vectors", committed).select(
        F.col("id").alias("rid"), F.col("v").alias("__rv__")
    )
    new_post, new_vecs = _postings_and_vectors(
        new_df.select(
            F.col(nid).alias(meta.id_col), F.col(nvec).alias(meta.vec_col)
        ),
        meta.id_col,
        meta.vec_col,
        int(meta.n_planes),
        int(meta.n_tables),
        int(meta.dim),
        # probe: the collision/verify action below is the first (and only)
        # consumer job — let it materialize the new-side blocks lazily
        eager=False,
    )
    # EXPLICIT-width candidate dedup (r18, guide §2.5 AQE caveat — same fix
    # as embedding_neardup_pairs_srp_md5): .distinct()'s exchange is
    # AQE-coalesced by bytes, collapsing the downstream cosine-verify
    # mapInPandas onto 1-2 tasks; the keyed repartition is exempt and
    # dropDuplicates reuses its partitioning.  Same rows as .distinct().
    n_verify = spark.sparkContext.defaultParallelism
    cand = (
        new_post.select(F.col("id").alias("nid"), "t", "b")
        .join(ref_post, ["t", "b"])
        .select("nid", "rid")
        .repartition(n_verify, "nid", "rid")
        .dropDuplicates()
    )
    pairs = cand.join(
        new_vecs.select(F.col("id").alias("nid"), F.col("v").alias("__nv__")),
        "nid",
    ).join(ref_vecs, "rid")

    import pandas as pd

    thr = float(meta.threshold)

    def verify(batches):
        for batch in batches:
            if not len(batch):
                continue
            m1 = np.asarray([np.asarray(x, dtype=np.float64) for x in batch["__nv__"]])
            m2 = np.asarray([np.asarray(x, dtype=np.float64) for x in batch["__rv__"]])
            dot = np.zeros(len(m1))
            n1 = np.zeros(len(m1))
            n2 = np.zeros(len(m1))
            for j in range(m1.shape[1]):
                dot = dot + m1[:, j] * m2[:, j]
                n1 = n1 + m1[:, j] * m1[:, j]
                n2 = n2 + m2[:, j] * m2[:, j]
            cos = np.round(
                dot
                / (np.maximum(np.sqrt(n1), 1e-12) * np.maximum(np.sqrt(n2), 1e-12)),
                6,
            )
            keep = cos >= thr
            yield pd.DataFrame({"nid": batch["nid"].to_numpy()[keep]})

    return (
        pairs.mapInPandas(verify, schema=f"nid {dict(new_df.dtypes)[nid]}")
        .distinct()
        .withColumnRenamed("nid", nid)
    )


def filter_against_neardup_index(
    spark,
    index_path: str,
    new_df: DataFrame,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> DataFrame:
    """Semantic onboarding probe: drop every NEW row whose embedding
    bucket-collides with a live reference entry AND fold-cosines at or
    above the store's pinned threshold; return the survivors (all of
    ``new_df``'s columns intact).

    Plan shape: ONE fingerprint pass over the new side (the only
    delivery-sized stage), a (t, b) equi-join against the committed
    reference postings, a distinct candidate set, then vector re-fetch
    joins sized by the collisions — bit-identical to the in-flight
    ``embedding_neardup_pairs_srp_md5`` arithmetic restricted to
    cross-corpus pairs (the registered row value-hashes it)."""
    meta = ST.read_meta_row(spark, index_path)
    nid = id_col or meta.id_col
    matched = matched_against_neardup_index(
        spark, index_path, new_df, id_col=id_col, vec_col=vec_col, _meta=meta
    )
    return new_df.join(matched, nid, "left_anti")


def neardup_store_health(spark, index_path: str) -> DataFrame:
    """Per-delivery health report for the embedding near-dup store —
    completing the observability set across all five persisted stores
    (``retrieval.text_index_health``, ``similarity.ivf_index_drift_report``,
    ``dedup_store.dedup_store_health``): one row per ledger-committed
    batch from the store's OWN artifacts, no corpus access.

    Columns: ``(batch, n_rows, n_ids, n_tombstones)`` — bucket posting
    rows, stored verify vectors, and takedown ids per delivery.  A delete
    delivery reads as (0, 0, k).  Signals: ``n_rows`` must be exactly
    ``n_tables × n_ids`` (every vector posts once per table — a drifted
    ratio means a partially-written delivery escaped the ledger, which
    the commit protocol forbids, so this is the audit that would catch a
    broken deployment's writes); a large tombstone count → compact,
    every probe pays the anti-join until then; a fleet-level view of
    ``n_ids`` growth against the meta-pinned plane count is the
    bucket-saturation rebuild signal (the store scales planes at BUILD
    time only — see ``build_neardup_index``).

    Scale shape: two map-side-combined count aggs (posting footer
    metadata + vector rows) plus an id-sized tombstone count; O(batches)
    output rows."""
    meta = ST.read_meta_row(spark, index_path)
    committed = ST.committed_batches(spark, index_path)
    posts = ST.per_batch_counts(
        spark, index_path, "postings", committed, f"id {meta.id_type}, b long",
        n_rows=F.count("*"),
    )
    vecs = ST.per_batch_counts(
        spark, index_path, "vectors", committed, f"id {meta.id_type}",
        n_ids=F.count("*"),
    )
    return ST.batch_health(spark, index_path, committed, meta.id_type, posts, vecs)
