"""Corpus-level retrieval / lexical-statistics operators: BM25 scoring and
top-k n-gram heavy hitters.

The reference pipeline has no retrieval surface (SURVEY.md §2.7: its only
aggregations are describe() stats and per-user sampling groups) — but a
training-data curation stack needs lexical relevance scoring (mining docs
that match a probe query, e.g. targeted-domain upsampling as in DoReMi-style
recipes) and corpus vocabulary statistics (top n-grams drive tokenizer
training and boilerplate detection).  Both are public, textbook algorithms
(Robertson/Spärck Jones BM25; word-count heavy hitters).

Scale design (100 TB):

- ``bm25_scores``: the token explode is a narrow flatMap; the probe-term
  filter prunes it to query-relevant rows BEFORE any shuffle, so the
  (doc, term) aggregation shuffles only matching postings — corpus size
  drops out of the wide stages.  Document-frequency and corpus stats are
  term-cardinality-sized (≤ #probe terms) and broadcast; the final per-doc
  sum shuffles on doc_id only.  No all-pairs anywhere.
- ``top_ngrams``: per-partition partial aggregation (map-side combine)
  collapses the gram stream before the one vocabulary shuffle;
  ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject — per-partition
  top-k then a driver merge of k·partitions rows, never a global sort.

Float determinism for the oracle: per-(doc, term) BM25 contributions are
rounded to integer nanos and summed as longs, so the cross-term addition
order (which Spark and DuckDB pick differently) cannot change the result;
the displayed score rounds to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chat_data_pipeline_spark.functions import text as T
from chat_data_pipeline_spark.operators import store as ST
from chat_data_pipeline_spark.session import values_df


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed bag of query
    terms.  Returns ``(id_col, bm25)`` for documents matching ≥1 term.

    idf uses the standard "+1 inside the log" form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` so scores are always positive.
    Tokenization is the pipeline-wide word tokenizer (functions/text.py
    WORD_PATTERN — identical in the DuckDB oracle).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    toks = docs.select(
        F.col(id_col), T.words(F.col(text_col)).alias("__toks__")
    ).withColumn("dl", F.size("__toks__"))
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select(id_col, "dl", F.explode("__toks__").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf feeds BOTH the df-count broadcast and the scoring probe; without a
    # checkpoint each consumer re-runs the corpus scan + explode.  The
    # postings are probe-term-pruned (tiny at any corpus size), so pinning
    # them is cheap and caps the plan at two corpus scans (stats + postings).
    tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (
        _term_nanos(tf, dfreq, stats, k1, b)
        .groupBy(id_col)
        .agg((F.sum("__nano__").cast("double") / 1e9).alias("__raw__"))
        .select(F.col(id_col), F.round("__raw__", 6).alias("bm25"))
    )


def _term_nanos(
    postings: DataFrame, dfreq: DataFrame, stats: DataFrame, k1: float, b: float
) -> DataFrame:
    """Per-(doc, term) BM25 contributions as integer nanos (``__nano__``):
    ``(doc, dl, term, tf)`` postings joined to the broadcast ``(term, df)``
    table and the one-row ``(n_docs, avgdl)`` globals — the arithmetic the
    self-contained and the persisted-index paths share, so their scores are
    bit-identical."""
    k1_l, b_l = F.lit(float(k1)), F.lit(float(b))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        idf
        * F.col("tf")
        * (k1_l + 1.0)
        / (F.col("tf") + k1_l * (F.lit(1.0) - b_l + b_l * F.col("dl") / F.col("avgdl")))
    )
    return (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__nano__", F.round(contrib * 1e9).cast("long"))
    )


def top_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams by document-stream frequency,
    ties broken lexicographically (fully deterministic).  Returns
    ``(ngram, n_occurrences)`` sorted by (count desc, ngram asc).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    ws = T.words(F.col(text_col))
    # sequence(1, 0) would produce a DESCENDING [1, 0] — guard short docs
    grams = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - n + 1),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


# --- persisted BM25 text index (r12) -----------------------------------------
# bm25_scores rebuilds its postings per probe — correct for one-off mining,
# the wrong cost model for an index served many times at 100 TB.  The
# build-once posture of the ANN index (operators/similarity.py) applied to
# lexical retrieval, with one property the IVF index does not have:
# EXTENSIONS ARE EXACT.  Every BM25 ingredient is a per-doc fact (tf, dl) or
# an integer-additive global (df per term, n_docs, Σdl), so per-delivery
# batches merge on read to the bit-identical full-rebuild statistics —
# sum(df), sum(n_docs), sum(sum_dl) — and an extended-index probe equals a
# probe over a from-scratch build of the union.
#
#   <index_path>/stats/batch=<id>/     one row (n_docs, sum_dl) — BIGINT exact
#   <index_path>/dfreq/batch=<id>/bkt=<n>/     (term, df)
#   <index_path>/postings/batch=<id>/bkt=<n>/  (doc, term, tf, dl)
#
# `bkt` is the md5 term bucket (functions/scoring.token_bucket arithmetic, so
# the probe computes it DRIVER-side with hashlib and prunes at the file
# listing: a 5-term probe touches ≤5 of n_term_buckets partition dirs).

N_TERM_BUCKETS = 64
TEXT_META = "id_type string, n_term_buckets int"


def _term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:2], 16) % n_buckets


def build_text_index(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build the persisted BM25 index (:func:`extend_text_index` appends
    to it).  Idempotent: each artifact writes through the root, clearing
    stale extension batches on a rebuild."""
    artifacts = _text_artifacts(docs, text_col, id_col)
    ST.commit_base(
        docs.sparkSession, index_path,
        lambda: ST.write_batch(index_path, "base", artifacts),
        TEXT_META, (dict(docs.dtypes)[id_col], N_TERM_BUCKETS),
    )


def _text_artifacts(docs: DataFrame, text_col: str, id_col: str) -> dict:
    """A corpus batch's artifacts (:func:`_artifact_map`) — the base
    build's and every extension's."""
    from chat_data_pipeline_spark.functions.scoring import token_bucket

    toks = docs.select(
        F.col(id_col).alias("doc"), T.words(F.col(text_col)).alias("__toks__")
    ).withColumn("dl", F.size("__toks__"))
    # the two corpus-sized passes (postings aggregation, doclens projection)
    # are independent — materialize their checkpoints CONCURRENTLY (r17,
    # guide §2.6: independent jobs submitted from driver threads back-fill
    # each other's stragglers); the artifact writes fan out the same way.
    from concurrent.futures import ThreadPoolExecutor

    postings_src = (
        toks.select("doc", "dl", F.explode("__toks__").alias("term"))
        .groupBy("doc", "dl", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("bkt", token_bucket(F.col("term"), N_TERM_BUCKETS))
    )
    # doc-granular (doc, dl) rows: deletes subtract stats through THESE, not
    # the postings, so a zero-token document (dl=0, no posting rows) still
    # subtracts its n_docs contribution exactly; stats rides the same
    # lineage so the corpus tokenizes once for both.  The (n_docs, sum_dl)
    # totals ride the checkpoint's own materialization as OBSERVED metrics
    # (r18, guide §1.2 — the trainer's sizing-count trick): the former
    # stats frame re-aggregated the stored blocks under its artifact
    # write, paying a dedicated exchange/stage; as a VALUES table the
    # stats write is a LocalTableScan with identical content (count/sum
    # as BIGINT, the readers' pinned schema).
    from pyspark.sql import Observation

    obs = Observation()
    dlens_src = toks.select("doc", "dl").observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
    )
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_post = ex.submit(lambda: postings_src.localCheckpoint(eager=True))
        f_dl = ex.submit(lambda: dlens_src.localCheckpoint(eager=True))
        postings, dlens = f_post.result(), f_dl.result()
    dfreq = postings.groupBy("bkt", "term").agg(F.count("*").alias("df"))
    stats = values_df(
        docs.sparkSession,
        [(int(obs.get["n"] or 0), int(obs.get["s"] or 0))],
        "n_docs long, sum_dl long",
    )
    return _artifact_map(postings, dfreq, stats, dlens)


def _artifact_map(
    postings: DataFrame, dfreq: DataFrame, stats: DataFrame, dlens: DataFrame
) -> dict:
    """The four BM25 artifacts as :func:`store.write_batch` takes them:
    bkt-partitioned postings and dfreq (salted on the term), the one-row
    stats and the doclens."""
    return {
        "postings": (postings, "bkt", "term"),
        "dfreq": (dfreq, "bkt", "term"),
        "stats": (stats, None, None),
        "doclens": (dlens, None, None),
    }


def compact_text_index(spark, index_path: str, dst_index: str | None = None) -> None:
    """Compact base + committed extensions into a single fresh base — the
    LSM-style maintenance step for a long-lived index: every probe pays an
    N-way batch merge (N dirs listed per probed bucket, N stats rows), so
    after many deliveries a compaction restores single-batch probe cost.
    BM25's ingredients are per-doc facts and integer-additive globals, so
    the compacted index answers probes BIT-IDENTICALLY (tested).

    ``dst_index=None`` compacts IN PLACE: the merged artifacts are pinned
    with an eager localCheckpoint before the overwrite (Spark cannot
    overwrite a path it is lazily reading), which materializes the
    postings to executor-local disk — fine at single-node scale.  A 100 TB
    deployment passes ``dst_index`` instead: the compaction streams into a
    FRESH root with no checkpoint, and the caller swaps probes over to it
    (write-then-swap, the zero-downtime pattern — :func:`store.swap_index_alias`
    is that pointer as an operator)."""
    meta = ST.read_meta_row(spark, index_path)
    committed = ST.committed_batches(spark, index_path)
    p_schema = f"doc {meta.id_type}, dl int, term string, tf long"
    postings = ST.committed_read(
        spark, index_path, "postings", committed, p_schema
    ).select("doc", "dl", "term", "tf", "bkt")
    dfreq = (
        ST.committed_read(spark, index_path, "dfreq", committed, "term string, df long")
        .groupBy("bkt", "term")
        .agg(F.sum("df").cast("long").alias("df"))
        # a fully-deleted term nets to df=0 (its positive build/extension
        # rows exactly cancel its negative delete rows); drop the husk
        .filter(F.col("df") > 0)
    )
    dlens = ST.committed_read(
        spark, index_path, "doclens", committed, f"doc {meta.id_type}, dl int"
    ).select("doc", "dl")
    # compaction is where deletes become PHYSICAL: tombstoned docs are
    # dropped from the rewritten postings/doclens, their negative df/stats
    # rows cancel in the net sums above, and the base commit clears the
    # tombstone set itself — after which a previously deleted id may be
    # re-delivered
    postings, dlens = ST.drop_tombstoned(index_path, committed, postings, dlens)
    if dst_index is None:
        postings = postings.localCheckpoint(eager=True)
        dfreq = dfreq.localCheckpoint(eager=True)
        dlens = dlens.localCheckpoint(eager=True)
        dst_index = index_path
    # recomputed from the RETAINED doc rows rather than netting the stats
    # partitions — equal by the extend-guard invariant, but this derivation
    # is correct unconditionally
    stats = dlens.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    artifacts = _artifact_map(postings, dfreq, stats, dlens)
    ST.commit_base(
        spark, dst_index, lambda: ST.write_batch(dst_index, "base", artifacts),
        TEXT_META, (meta.id_type, N_TERM_BUCKETS), fold=(index_path, committed),
    )


def extend_text_index(
    docs: DataFrame,
    index_path: str,
    batch_id: int | str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Deliver one corpus batch into an existing index — EXACT: df / n_docs
    / Σdl are integer-additive and merge on read, so probes over base +
    extensions are bit-identical to a full rebuild over the union (tested).
    Replaying a batch id overwrites its own partitions (sketch-store
    idempotence).

    A delivery containing a TOMBSTONED id is refused: the tombstone would
    hide the new rows from probes while their positive df/stats landed
    anyway, silently skewing scores for every other document sharing a
    term (see :func:`delete_from_text_index`) — compact first to clear the
    tombstones, then re-deliver.  The guard costs nothing until the index
    has seen a delete (one directory existence check), then one
    delivery-sized semi-join per delivery."""
    opened = ST.open_extension(docs, index_path, batch_id, id_col)
    if opened is None:
        return  # folded replay: the base already holds this delivery
    ST.write_batch(index_path, opened[0], _text_artifacts(docs, text_col, id_col))


def delete_from_text_index(
    spark,
    index_path: str,
    ids: DataFrame,
    batch_id: int | str,
) -> None:
    """Tombstone-delete documents from the persisted BM25 index WITHOUT a
    rebuild — takedown / post-hoc decontamination as one ledger-committed
    delivery (the LSM posture extended to removals).  ``ids`` is a
    one-column DataFrame of document ids.

    Mechanics: BM25's globals are integer-additive, so a delete is a
    NEGATIVE delivery — the victims' per-term document counts land under
    ``dfreq/batch=<id>`` as negative ``df`` rows and their (count, Σdl)
    under ``stats/batch=<id>`` as negative totals, which the probes'
    existing cross-batch sums subtract with zero probe-side arithmetic
    change; the ids land under ``tombstones/batch=<id>`` and probes
    anti-join them out of the postings.  Probes after a delete are
    BIT-IDENTICAL to a fresh build over the retained corpus (tested),
    including zero-token documents — their n_docs contribution subtracts
    through the doc-granular ``doclens`` artifact, which sees every
    delivered row, not just rows that produced postings.

    Crash consistency: the ledger marker commits LAST, so a crash
    mid-delete leaves every artifact invisible to probes; replaying the
    same ``batch_id`` recomputes the same victims (its own previous
    tombstones are excluded from the already-deleted set) and overwrites
    its own partitions.  Ids already tombstoned by an EARLIER delete are
    excluded up front, so overlapping deletes never double-subtract.

    Scale shape: the victims' semi-join reads the postings once (a delete
    cannot prune — a document's terms hash to every bucket) and reduces to
    term-sized negatives plus id-sized tombstones; serving cost gains one
    anti-join against the tombstone set (AQE broadcasts it while small).
    Compaction is the pressure valve: it drops tombstoned docs physically
    and clears the set."""
    opened = ST.open_delivery(spark, index_path, batch_id, "delete", "postings")
    if opened is None:
        return  # folded replay: the victims are already physically gone
    batch_id, meta = opened
    committed = ST.committed_batches(spark, index_path)
    id_type = meta.id_type
    # eager: `want` feeds three writes below, one of which overwrites the
    # tombstone root its anti-join may be reading (replay)
    want = ST.delete_victims(
        ids, index_path, committed, id_type, batch_id
    ).localCheckpoint(eager=True)
    p_schema = f"doc {id_type}, dl int, term string, tf long"
    victims = ST.committed_read(
        spark, index_path, "postings", committed, p_schema
    ).join(want, "doc", "left_semi")
    neg_df = victims.groupBy("bkt", "term").agg(
        (-F.count("*")).cast("long").alias("df")
    )
    neg_stats = (
        ST.committed_read(
            spark, index_path, "doclens", committed, f"doc {id_type}, dl int"
        )
        .join(want, "doc", "left_semi")
        .agg(
            (-F.count("*")).cast("long").alias("n_docs"),
            (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("sum_dl"),
        )
    )
    ST.write_batch(
        index_path,
        batch_id,
        {
            "dfreq": (neg_df, "bkt", "term"),
            "stats": (neg_stats, None, None),
            "tombstones": (want, None, None),
        },
    )


def rrf_fuse(
    arms: list[DataFrame],
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of N
    ranked retrieval arms — the standard way to combine a lexical and a
    vector ranking into one hybrid result without score calibration: each
    arm contributes ``1/(rrf_k + rank)`` for the documents it ranked, and
    documents surfacing in several arms accumulate.

    Every ``arms`` entry is ``(query_id_col, id_col, rank)`` — the shape
    :func:`bm25_topk_indexed_batch` and ``similarity.ivf_topk_persisted``
    already serve.  Contributions are exact integer nanos
    (``1e9 div (rrf_k + rank)``), so the fused ordering is
    engine-independent; ties break by ascending id.  Output:
    ``(query_id, id, rrf_nanos, rank)`` with rank ≤ k.

    Scale shape: each arm is already top-k-bounded (queries × arm_k rows),
    so the fusion works on query-sized data — one union, one
    (query, id) partial-aggregated groupBy, one per-query window.  The
    heavy lifting stays in the arms' own pruned index probes; fusing adds
    no corpus-sized stage.

    Query ids pass through with the FIRST arm's type (string request ids
    are a real serving shape — a lossy cast would collapse every
    non-numeric id into one NULL fusion group); arms whose query-id types
    disagree are refused up front, mirroring the stores' id guards."""
    if not arms:
        raise ValueError("rrf_fuse needs at least one ranked arm")
    q_type = dict(arms[0].dtypes)[query_id_col]
    for i, a in enumerate(arms[1:], start=1):
        got = dict(a.dtypes)[query_id_col]
        if got != q_type:
            raise ValueError(
                f"rrf_fuse arm {i} has {query_id_col} type {got!r} but arm 0 "
                f"has {q_type!r}; cast the arms to one query-id type before "
                "fusing (a silent coercion would merge or NULL-out queries)"
            )
    contrib = F.expr(f"{10**9}L div ({int(rrf_k)} + rank)")
    pieces = [
        a.select(
            F.col(query_id_col),
            F.col(id_col),
            contrib.alias("__c__"),
        )
        for a in arms
    ]
    unioned = pieces[0]
    for p in pieces[1:]:
        unioned = unioned.unionByName(p)
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf_nanos").desc(), F.col(id_col).asc()
    )
    return (
        unioned.groupBy(query_id_col, id_col)
        .agg(F.sum("__c__").cast("long").alias("rrf_nanos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(query_id_col, id_col, "rrf_nanos", "rank")
    )


def _indexed_term_nanos(
    spark, index_path: str, terms: list[str], id_col: str, k1: float, b: float
) -> DataFrame:
    """:func:`_term_nanos` over the persisted index's live postings of
    ``terms`` (already lowercased), keyed on ``id_col``.  Explicit schemas from
    meta, so no footer is sampled: the probe terms' md5 buckets and the
    committed batches are two literal ``IN`` s on partition columns, which
    list only the probed ``bkt`` dirs of committed batches.  Tombstoned
    docs stay physical until compaction; the anti-join hides them, while
    their negative dfreq/stats deliveries subtract through the cross-batch
    sums."""
    bkts = sorted({_term_bucket_py(t) for t in terms})
    meta = ST.read_meta_row(spark, index_path)
    committed = ST.committed_batches(spark, index_path)
    p_schema = f"doc {meta.id_type}, dl int, term string, tf long"
    postings = ST.drop_tombstoned(
        index_path,
        committed,
        ST.committed_read(spark, index_path, "postings", committed, p_schema)
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("term").isin(terms))
        .select(F.col("doc").alias(id_col), "dl", "term", "tf"),
        id_col=id_col,
    )
    dfreq = (
        ST.committed_read(spark, index_path, "dfreq", committed, "term string, df long")
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    stats = (
        ST.committed_read(
            spark, index_path, "stats", committed, "n_docs long, sum_dl long"
        )
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("__sum_dl__"),
        )
        # integer-exact Σdl / n — the identical double F.avg(dl) computes
        # (integer-valued double sums are exact below 2^53)
        .select(
            "n_docs",
            (F.col("__sum_dl__").cast("double") / F.col("n_docs").cast("double")).alias(
                "avgdl"
            ),
        )
    )
    return _term_nanos(postings, dfreq, stats, k1, b)


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int | None = None,
) -> DataFrame:
    """Load-and-probe BM25 over a persisted index: the probe terms' md5
    buckets become a LITERAL ``IN`` on the ``bkt`` partition column (static
    pruning at the listing — ≤ #terms of N_TERM_BUCKETS dirs touched), the
    batch dimension merges by integer addition, and the scoring arithmetic
    is :func:`bm25_scores`'s own — output bit-identical to the
    self-contained path over the same corpus.

    ``k`` bounds the serving result to the top-k documents by
    (bm25 desc, id asc) — ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (per-partition top-k + a driver merge of
    k·partitions rows, never a global sort), so a common-term probe on a
    100 TB corpus returns k rows, not a corpus-sized result.  ``k=None``
    keeps the exhaustive-scoring behavior for consumers that want every
    matching document (e.g. corpus-wide relevance weighting)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    out = (
        _indexed_term_nanos(spark, index_path, terms, id_col, k1, b)
        .groupBy(id_col)
        .agg((F.sum("__nano__").cast("double") / 1e9).alias("__raw__"))
        .select(F.col(id_col), F.round("__raw__", 6).alias("bm25"))
    )
    if k is not None:
        out = out.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(int(k))
    return out


def bm25_topk_indexed_batch(
    spark,
    index_path: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Serve a TABLE of queries against the persisted index in ONE pass —
    the lexical analog of :func:`ivf_topk_persisted`'s query batching.
    ``queries`` is ``(query_id, array<string> terms)``.

    Scale shape: the union of every query's terms prunes the postings at
    the file LISTING (one literal ``IN`` on the md5 bucket column — the
    index is opened once for the whole batch, not once per query); the
    exploded (query, term) table is query-sized and broadcasts; per-term
    nano contributions are computed ONCE per (doc, term) and fan out to
    queries through that broadcast join; the final top-k is a window
    ranked inside each query's partition — no global sort, no per-query
    index scan.  The query table is guarded (driver-collected for bucket
    computation), mirroring the ANN probe's ``max_query_rows`` contract.

    Output: ``(query_id, id_col, bm25, rank)`` with rank ≤ k, ties broken
    by ascending id — per-(doc, term) scores are bit-identical to
    :func:`bm25_topk_indexed` over the same index."""
    from pyspark.sql import Window

    # guard and collect in ONE job: the limit bounds the driver transfer
    # even when the input is over the cap, and len() replaces a separate
    # count() action (a whole extra scan on every serving call)
    qrows = (
        queries.select(query_id_col, terms_col)
        .limit(int(max_query_rows) + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"bm25_topk_indexed_batch: query rows exceed "
            f"max_query_rows={max_query_rows}; raise the guard explicitly "
            "if the driver can hold the query set"
        )
    # dedup AFTER lowercasing (r13 ADVICE): ['Hash', 'hash'] is ONE term —
    # a pre-lowercase set() would emit two identical (query_id, 'hash')
    # rows and double that term's contribution vs bm25_topk_indexed
    qterms = [(r[0], sorted({str(t).lower() for t in (r[1] or [])})) for r in qrows]
    empty = [qid for qid, ts in qterms if not ts]
    if empty:
        # match the single-query path's contract: an empty/NULL terms row
        # raises instead of silently vanishing from the output, so callers
        # can distinguish 'no matches' from 'query dropped'
        raise ValueError(
            f"bm25_topk_indexed_batch: no query terms for rows {empty[:10]}"
        )
    terms = sorted({t for _, ts in qterms for t in ts})
    qt = values_df(
        spark,
        [(qid, t) for qid, ts in qterms for t in ts],
        f"{query_id_col} {dict(queries.dtypes)[query_id_col]}, term string",
    )
    per_term = _indexed_term_nanos(spark, index_path, terms, id_col, k1, b).select(
        id_col, "term", "__nano__"
    )
    scored = (
        per_term.join(F.broadcast(qt), "term")
        .groupBy(query_id_col, id_col)
        .agg((F.sum("__nano__").cast("double") / 1e9).alias("__raw__"))
        .select(query_id_col, id_col, F.round("__raw__", 6).alias("bm25"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(query_id_col, id_col, "bm25", "rank")
    )


def text_index_health(spark, index_path: str) -> DataFrame:
    """Per-delivery health report for the persisted BM25 index — the text
    twin of ``similarity.ivf_index_drift_report``: one row per
    ledger-committed batch straight from the index's own artifacts, no
    corpus access.

    Columns: ``(batch, n_docs, sum_dl, n_terms, sum_df, n_postings,
    n_tombstones)``.  A DELETE delivery reads as its negative footprint —
    negative n_docs/sum_dl/sum_df, zero postings, positive tombstones — so
    the report doubles as the audit that a takedown landed with exactly
    the subtraction it should have; the batch SUMS give the live totals a
    probe serves.  Operational signals: many small batches → compact
    (probe pays an N-way merge), large n_tombstones → compact (probe pays
    the anti-join), sum over batches of sum_df trending far below
    n_postings → deletes outpacing compaction.

    Scale shape: postings are touched only by a count aggregate
    (map-side-combined, no row leaves the executors); dfreq/stats/
    tombstones are term-/batch-/id-sized.  O(batches) output rows."""
    meta = ST.read_meta_row(spark, index_path)
    committed = ST.committed_batches(spark, index_path)

    def counts(sub: str, schema: str, **aggs) -> DataFrame:
        return ST.per_batch_counts(
            spark, index_path, sub, committed, schema, optional=True, **aggs
        )

    stats = counts(
        "stats", "n_docs long, sum_dl long",
        n_docs=F.sum("n_docs"), sum_dl=F.sum("sum_dl"),
    )
    dfreq = counts(
        "dfreq", "term string, df long", n_terms=F.count("*"), sum_df=F.sum("df")
    )
    postings = counts(
        "postings", f"doc {meta.id_type}, dl int, term string, tf long",
        n_postings=F.count("*"),
    )
    return ST.batch_health(
        spark, index_path, committed, meta.id_type, stats, dfreq, postings
    )
