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

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chat_data_pipeline_spark.functions import text as T


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
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__nano__", F.round(contrib * 1e9).cast("long"))
    )
    return (
        scored.groupBy(id_col)
        .agg((F.sum("__nano__").cast("double") / 1e9).alias("__raw__"))
        .select(F.col(id_col), F.round("__raw__", 6).alias("bm25"))
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

# Write-salt for bucket-clustered index writes.  Clustering on the partition
# column alone bounds the FILE count to O(buckets) — but it also bounds the
# WRITE-TASK count to the number of distinct bucket values, so a corpus-sized
# postings table funnels through ≤ N_TERM_BUCKETS (=64) tasks no matter how
# many executors the cluster has: invisible at sf0.1, the named scale-killer
# at 100 TB.  Salting the repartition keeps files at O(buckets × salt) while
# the write stage scales with the salt (raise it with the cluster size).
WRITE_SALT = 8

_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def validate_batch_id(batch_id: int | str) -> str:
    """Reject batch ids that would corrupt the hive layout: ``'base'`` would
    silently overwrite the base build, and path separators / ``=`` / spaces
    would break ``batch=<id>`` partition-directory parsing."""
    s = str(batch_id)
    if s == "base":
        raise ValueError(
            "batch_id 'base' is reserved for the index's base build; "
            "pick a distinct delivery id"
        )
    if not _BATCH_ID_RE.match(s):
        raise ValueError(
            f"batch_id {s!r} is not a safe partition value "
            "(allowed: letters, digits, '.', '_', '-')"
        )
    return s


def cluster_for_partitioned_write(
    df: DataFrame, part_cols: list[str], salt_expr, write_salt: int = WRITE_SALT
) -> DataFrame:
    """Cluster rows ahead of a hive-partitioned write so the file count
    stays O(dirs × write_salt) while write parallelism scales with
    ``write_salt``, DECOUPLED from the partition-dir count.

    A bare ``repartition(part_cols)`` gives O(dirs) files but also caps the
    write stage at #dirs non-empty tasks; adding a hashed salt column to the
    shuffle key (dropped before the write, so it never reaches the files)
    spreads each dir's rows over ≤ write_salt tasks."""
    cols = [F.col(c) for c in part_cols]
    if write_salt <= 1:
        return df.repartition(*cols)
    salt = F.pmod(F.xxhash64(salt_expr), F.lit(int(write_salt)))
    return (
        df.withColumn("__wsalt__", salt)
        .repartition(*cols, F.col("__wsalt__"))
        .drop("__wsalt__")
    )


def _term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:2], 16) % n_buckets


def build_text_index(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | str = "base",
    _clear: bool = True,
) -> None:
    """Build (or, via :func:`extend_text_index`, append to) the persisted
    BM25 index.  Idempotent: each artifact writes through the root
    (clearing stale extension batches on a rebuild) or overwrites its own
    ``batch=`` partition on extension replay."""
    from chat_data_pipeline_spark.functions.scoring import token_bucket

    spark = docs.sparkSession
    toks = docs.select(
        F.col(id_col).alias("doc"), T.words(F.col(text_col)).alias("__toks__")
    ).withColumn("dl", F.size("__toks__"))
    # the two corpus-sized passes (postings aggregation, doclens projection)
    # are independent — materialize their checkpoints CONCURRENTLY (r17,
    # guide §2.6: independent jobs submitted from driver threads back-fill
    # each other's stragglers), then fan the four artifact writes out the
    # same way below.  Semantics unchanged: both plans are the ones the
    # former lazy checkpoints materialized on first write.
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
    from chat_data_pipeline_spark.session import values_df

    stats = values_df(
        spark,
        [(int(obs.get["n"] or 0), int(obs.get["s"] or 0))],
        "n_docs long, sum_dl long",
    )
    id_type = dict(docs.dtypes)[id_col]
    # salt the bucket-clustered writes so the corpus-sized postings table is
    # written by O(N_TERM_BUCKETS × WRITE_SALT) tasks, not ≤64 (see
    # WRITE_SALT above); the salt hashes the term so a bucket's rows spread
    # over ≤ WRITE_SALT tasks → ≤ WRITE_SALT files per bkt dir.
    # partitionOverwriteMode is pinned STATIC per-write: under a session
    # configured dynamic, a base rebuild would replace only batch=base and
    # probes would silently keep serving stale extension batches (and a
    # replayed extension would keep stale bkt dirs its new content no
    # longer produces).
    p_out = cluster_for_partitioned_write(postings, ["bkt"], F.col("term"))
    d_out = cluster_for_partitioned_write(dfreq, ["bkt"], F.col("term"))
    if _clear:  # base build: write through the root, clearing old batches
        _write_text_base(spark, index_path, p_out, d_out, stats, dlens, id_type)
    else:  # extension: overwrite only this delivery's partition
        # the four artifact writes target disjoint paths and share only
        # already-materialized checkpoints — run them concurrently (r17);
        # the ledger commit stays strictly AFTER all four complete
        def _w_post():
            p_out.write.mode("overwrite").option(
                "partitionOverwriteMode", "static"
            ).partitionBy("bkt").parquet(f"{index_path}/postings/batch={batch_id}")

        def _w_dfreq():
            d_out.write.mode("overwrite").option(
                "partitionOverwriteMode", "static"
            ).partitionBy("bkt").parquet(f"{index_path}/dfreq/batch={batch_id}")

        def _w_stats():
            stats.write.mode("overwrite").parquet(
                f"{index_path}/stats/batch={batch_id}"
            )

        def _w_dlens():
            dlens.write.mode("overwrite").parquet(
                f"{index_path}/doclens/batch={batch_id}"
            )

        with ThreadPoolExecutor(max_workers=4) as ex:
            for f in [ex.submit(w) for w in (_w_post, _w_dfreq, _w_stats, _w_dlens)]:
                f.result()
        # the delivery's commit marker is written LAST: a crash mid-delivery
        # (postings landed, df/stats didn't) must leave the batch INVISIBLE
        # to probes — BM25's exactness claim depends on the three artifacts
        # agreeing, so probes read only ledger-committed batches and a
        # half-delivered batch can't silently skew df against tf.  Replay
        # with the same id overwrites the partial artifacts and re-commits.
        ledger_commit(spark, index_path, batch_id)


def read_meta_row(spark, index_path: str):
    """One-row store-meta read with ZERO Spark jobs on ``file:``-scheme
    roots (r17 optimization).  ``spark.read.parquet(meta).first()`` costs
    TWO driver-paced jobs — a parquet footer schema-inference job plus the
    ``executeTake`` — and every store verb (probe, delivery, maintenance,
    fsck/gc/plan chain) starts with exactly this read, so a 5-root fleet
    sweep paid 10 jobs before touching any real artifact.  The meta file
    is one row of flat scalars by construction of all five store writers
    (``values_df(...).coalesce(1)``), so for local roots the part file
    is read driver-side via pyarrow and wrapped in a ``Row`` with the same
    field order and Python value types the Spark path produced.

    Semantics pinned to the old path: a missing/corrupt meta falls back to
    the Spark read so the error type/message stays identical; a zero-row
    meta (crash between file creation and row flush) returns ``None``
    exactly like ``first()``.  Non-local schemes (HDFS/S3A) always take
    the Spark read — the cost being cut is per-call driver latency, which
    at cluster scale is the same fixed overhead this removes locally."""
    try:
        fs, path, _jvm = _fs_for(spark, f"{index_path}/meta")
        if fs.getScheme() == "file":
            import pyarrow.parquet as pq

            parts = sorted(
                st.getPath().toUri().getPath()
                for st in fs.listStatus(path)
                if st.getPath().getName().endswith(".parquet")
            )
            if not parts:
                raise IOError(f"no parquet part files under {index_path}/meta")
            rows: list[dict] = []
            for p in parts:
                rows.extend(pq.read_table(p).to_pylist())
            if not rows:
                return None
            if len(rows) > 1:
                # metas are one-row by construction of all five store
                # writers; a non-conforming multi-row meta must take the
                # Spark path below (r17 ADVICE) — this fast path's
                # lexicographic part ordering could otherwise silently
                # pick a different row than Spark's first()
                raise IOError(f"multi-row meta under {index_path}/meta")
            from pyspark.sql import Row

            return Row(**rows[0])
    except Exception:  # noqa: BLE001 — any surprise: identical Spark path
        pass
    return spark.read.parquet(f"{index_path}/meta").first()


def invalidate_index_meta(spark, index_path: str) -> None:
    """Delete the index's meta FIRST in every base (re)build / in-place
    compaction — meta is the build's commit marker (written LAST), and a
    first build at a fresh path crashes safely because no meta exists yet;
    but a REBUILD that dies between the postings overwrite and the ledger
    reset would otherwise leave the OLD meta and OLD ledger intact, so
    probes would silently merge the partial new base with stale
    dfreq/stats/extension state (r13 ADVICE).  Deleting meta up front
    makes the whole rebuild window meta-less: a crash anywhere inside it
    leaves a root every probe rejects loudly.  Plain Hadoop FS metadata
    op — milliseconds, never a Spark job."""
    fs, path, _jvm = _fs_for(spark, f"{index_path}/meta")
    fs.delete(path, True)


def _write_text_base(
    spark, index_path: str, p_out: DataFrame, d_out: DataFrame,
    stats: DataFrame, dlens: DataFrame, id_type: str,
    clear_folded: bool = True,
) -> None:
    """Write the four base artifacts through the root (clearing stale
    extension batches), reset the commit ledger, then write meta LAST as
    the build's commit marker (same order as build_ivf_index): meta is
    deleted FIRST (see :func:`invalidate_index_meta`), so a build OR
    REBUILD that dies midway leaves no meta at all and a probe of the
    partial root fails loudly instead of reading postings that disagree
    with stale meta/ledger state.  meta also carries the id type so probes
    supply EXPLICIT schemas — no footer sampling at read time (on a
    million-file index, schema inference would open an arbitrary footer
    per read).

    Tombstones are cleared inside the same meta-less window: a fresh base
    (or a compaction, which physically drops the tombstoned docs before
    calling here) starts with no pending deletes by definition, and a
    crash between the tombstone wipe and the meta write leaves a root
    probes reject loudly rather than one silently serving un-deleted
    rows."""
    invalidate_index_meta(spark, index_path)
    fs, tpath, _jvm = _fs_for(spark, f"{index_path}/tombstones")
    fs.delete(tpath, True)
    if clear_folded:
        # a from-source rebuild starts a new world: old delivery ids are
        # reusable; a COMPACTION passes clear_folded=False to keep the
        # spent-id manifest it just wrote
        folded_clear(spark, index_path)
    base = F.lit("base")
    # the four base artifacts land at disjoint paths from already-
    # materialized checkpoints — write them concurrently (r17, guide §2.6);
    # crash consistency is unchanged because the whole window is meta-less
    # (meta deleted above, rewritten LAST below), so partial concurrent
    # writes leave a root every probe rejects loudly, same as before
    from concurrent.futures import ThreadPoolExecutor

    def _w(df, sub: str, bucketed: bool):
        part_cols = ["batch", "bkt"] if bucketed else ["batch"]
        df.withColumn("batch", base).write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy(*part_cols).parquet(f"{index_path}/{sub}")

    jobs = [
        (p_out, "postings", True),
        (d_out, "dfreq", True),
        (stats, "stats", False),
        (dlens, "doclens", False),
    ]
    with ThreadPoolExecutor(max_workers=4) as ex:
        for f in [ex.submit(_w, df, sub, b) for df, sub, b in jobs]:
            f.result()
    ledger_reset(spark, index_path)
    from chat_data_pipeline_spark.session import values_df

    # meta via the JVM-local VALUES constructor (r17): the parallelize
    # path pays a Python-worker round trip per write — one per BUILD
    values_df(
        spark, [(id_type, N_TERM_BUCKETS)], "id_type string, n_term_buckets int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/meta")


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
    (write-then-swap, the zero-downtime pattern — :func:`swap_index_alias`
    is that pointer as an operator)."""
    meta = read_meta_row(spark, index_path)
    committed = _committed_batches(spark, index_path)
    tomb = _tombstoned_ids(spark, index_path, meta.id_type, committed)
    p_schema = f"doc {meta.id_type}, dl int, term string, tf long"
    postings = (
        spark.read.schema(p_schema).parquet(f"{index_path}/postings")
        .filter(F.col("batch").isin(committed))
        .select("doc", "dl", "term", "tf", "bkt")
    )
    dfreq = (
        spark.read.schema("term string, df long")
        .parquet(f"{index_path}/dfreq")
        .filter(F.col("batch").isin(committed))
        .groupBy("bkt", "term")
        .agg(F.sum("df").cast("long").alias("df"))
        # a fully-deleted term nets to df=0 (its positive build/extension
        # rows exactly cancel its negative delete rows); drop the husk
        .filter(F.col("df") > 0)
    )
    dlens = (
        spark.read.schema(f"doc {meta.id_type}, dl int")
        .parquet(f"{index_path}/doclens")
        .filter(F.col("batch").isin(committed))
        .select("doc", "dl")
    )
    if tomb is not None:
        # compaction is where deletes become PHYSICAL: tombstoned docs are
        # dropped from the rewritten postings/doclens, their negative
        # df/stats rows cancel in the net sums above, and _write_text_base
        # clears the tombstone set itself — after which a previously
        # deleted id may be re-delivered
        postings = postings.join(tomb, "doc", "left_anti")
        dlens = dlens.join(tomb, "doc", "left_anti")
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
    p_out = cluster_for_partitioned_write(postings, ["bkt"], F.col("term"))
    d_out = cluster_for_partitioned_write(dfreq, ["bkt"], F.col("term"))
    # the folded manifest lands BEFORE the rewrite: a delivery this
    # compaction folds must read as spent from the moment the compacted
    # base serves (see folded_record — closes the streaming replay
    # double-count window); safe even if the rewrite crashes, because the
    # marked batches are still ledger-committed in the old root
    _fold_manifest_forward(spark, index_path, dst_index, committed)
    _write_text_base(
        spark, dst_index, p_out, d_out, stats, dlens, meta.id_type,
        clear_folded=False,
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
    bid = validate_batch_id(batch_id)
    if _guard_spent_batch_id(docs.sparkSession, index_path, bid, "extension"):
        return  # folded replay: the base already holds this delivery
    _guard_batch_id_kind(
        docs.sparkSession, index_path, bid, "tombstones", "extension", "delete"
    )
    meta = read_meta_row(docs.sparkSession, index_path)
    _guard_delivery_id_type(docs, id_col, meta.id_type, index_path)
    _guard_tombstoned_delivery(docs, index_path, id_col)
    build_text_index(
        docs,
        index_path,
        text_col,
        id_col,
        batch_id=bid,
        _clear=False,
    )


def _guard_batch_id_kind(
    spark,
    index_path: str,
    batch_id: str,
    other_kind_dir: str,
    this_kind: str,
    other_kind: str,
) -> None:
    """Deletes and extensions share one ledger namespace, but replay
    idempotence is SAME-KIND only: a delete re-using a committed
    extension's id would statically overwrite that batch's dfreq/stats
    with the victims' negatives while its postings survived (silently
    corrupt idf/avgdl); an extension re-using a delete's id would replace
    the negatives while the tombstones kept hiding live docs.  One FS
    existence probe on the OTHER kind's batch dir fails the cross-kind
    reuse loudly — uncommitted remnants count too, since committing this
    delivery would make the crashed other-kind artifacts visible."""
    fs, p, _jvm = _fs_for(spark, f"{index_path}/{other_kind_dir}/batch={batch_id}")
    if fs.exists(p):
        raise ValueError(
            f"batch id {batch_id!r} already names a {other_kind} delivery of "
            f"{index_path}; {this_kind} deliveries must use a distinct id "
            "(replay idempotence is same-kind only)"
        )


def _guard_delivery_id_type(
    df: DataFrame, id_col: str, expected: str, index_path: str
) -> None:
    """Refuse a delivery whose id column's type differs from the type the
    store was built with (r14 ADVICE): without this, a wrong-typed
    extension ledger-commits cleanly and only fails LATER, at probe time,
    under the meta-pinned explicit read schema — the one delivery guard
    that didn't share the others' refuse-at-delivery posture.  One dtypes
    dict lookup; no Spark job."""
    got = dict(df.dtypes).get(id_col)
    if got is None:
        raise ValueError(
            f"delivery into {index_path}: expected id column {id_col!r} "
            f"(from the store meta) but the delivered frame has columns "
            f"{df.columns}; pass the column-name overrides if the frame "
            "uses its own names"
        )
    if got != expected:
        raise ValueError(
            f"delivery into {index_path}: id column {id_col!r} has type "
            f"{got!r} but the store was built with id type {expected!r}; "
            "cast the delivered ids first (a mismatched delivery would "
            "commit and only fail later at probe scan time)"
        )


def _guard_tombstoned_delivery(docs: DataFrame, index_path: str, id_col: str) -> None:
    """Raise if any delivered id is currently tombstoned (shared by the
    text and IVF extension paths)."""
    spark = docs.sparkSession
    fs, tpath, _jvm = _fs_for(spark, f"{index_path}/tombstones")
    if not fs.exists(tpath):
        return
    id_type = dict(docs.dtypes)[id_col]
    committed = _committed_batches(spark, index_path)
    tomb = _tombstoned_ids(spark, index_path, id_type, committed)
    if tomb is None:
        return
    clash = (
        docs.select(F.col(id_col).cast(id_type).alias("doc"))
        .join(tomb, "doc", "left_semi")
        .limit(1)
        .count()
    )
    if clash:
        raise ValueError(
            f"delivery into {index_path} contains tombstoned ids; "
            "compact the index to clear its tombstones before re-delivering "
            "deleted documents"
        )


def _tombstoned_ids(
    spark,
    index_path: str,
    id_type: str,
    committed: list[str],
    exclude_batch: str | None = None,
) -> DataFrame | None:
    """Ledger-committed tombstoned ids as a one-column ``doc`` DataFrame,
    or ``None`` when the index has never seen a delete — the common case
    stays one directory-existence check, no Spark job.  ``exclude_batch``
    lets a delete REPLAY recompute its own victims instead of seeing its
    previous commit and degrading to a no-op."""
    fs, tpath, _jvm = _fs_for(spark, f"{index_path}/tombstones")
    if not fs.exists(tpath):
        return None
    batches = [b for b in committed if b != exclude_batch]
    return (
        spark.read.schema(f"doc {id_type}")
        .parquet(f"{index_path}/tombstones")
        .filter(F.col("batch").isin(batches))
        .select("doc")
    )


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
    batch_id = validate_batch_id(batch_id)
    if _guard_spent_batch_id(spark, index_path, batch_id, "delete"):
        return  # folded replay: the victims are already physically gone
    _guard_batch_id_kind(
        spark, index_path, batch_id, "postings", "delete", "extension"
    )
    meta = read_meta_row(spark, index_path)
    committed = _committed_batches(spark, index_path)
    id_type = meta.id_type
    want = ids.select(F.col(ids.columns[0]).cast(id_type).alias("doc")).distinct()
    tomb = _tombstoned_ids(
        spark, index_path, id_type, committed, exclude_batch=batch_id
    )
    if tomb is not None:
        want = want.join(tomb, "doc", "left_anti")
    # eager: `want` feeds three writes below, one of which overwrites the
    # tombstone root the anti-join above may be reading (replay)
    want = want.localCheckpoint(eager=True)
    p_schema = f"doc {id_type}, dl int, term string, tf long"
    victims = (
        spark.read.schema(p_schema).parquet(f"{index_path}/postings")
        .filter(F.col("batch").isin(committed))
        .join(want, "doc", "left_semi")
    )
    neg_df = victims.groupBy("bkt", "term").agg(
        (-F.count("*")).cast("long").alias("df")
    )
    neg_stats = (
        spark.read.schema(f"doc {id_type}, dl int")
        .parquet(f"{index_path}/doclens")
        .filter(F.col("batch").isin(committed))
        .join(want, "doc", "left_semi")
        .agg(
            (-F.count("*")).cast("long").alias("n_docs"),
            (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("sum_dl"),
        )
    )
    cluster_for_partitioned_write(neg_df, ["bkt"], F.col("term")).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "static").partitionBy("bkt").parquet(
        f"{index_path}/dfreq/batch={batch_id}"
    )
    neg_stats.write.mode("overwrite").parquet(f"{index_path}/stats/batch={batch_id}")
    want.write.mode("overwrite").parquet(f"{index_path}/tombstones/batch={batch_id}")
    # commit marker LAST: a crash anywhere above leaves the delete invisible
    ledger_commit(spark, index_path, batch_id)


def _fs_for(spark, path_str: str):
    """(FileSystem, Path, jvm) for any path — the ONE Hadoop-FS handle
    helper behind the ledger, the meta invalidation and the serving alias
    (plain FS metadata ops, works on HDFS/S3A/local alike, milliseconds,
    never a Spark job)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path, jvm


def _ledger_fs(spark, index_path: str):
    """(FileSystem, Path) for the index's commit ledger directory."""
    return _fs_for(spark, f"{index_path}/batches")


def ledger_reset(spark, index_path: str) -> None:
    """Base-build ledger reset: clears every extension's commit marker (the
    base itself is committed by the meta write that follows)."""
    fs, path, _jvm = _ledger_fs(spark, index_path)
    fs.delete(path, True)
    fs.mkdirs(path)


def ledger_commit(spark, index_path: str, batch_id: int | str) -> None:
    """Mark one delivery committed — an empty touch file named after the
    batch id, created AFTER the delivery's artifacts."""
    fs, path, jvm = _ledger_fs(spark, index_path)
    fs.mkdirs(path)
    fs.create(jvm.org.apache.hadoop.fs.Path(path, str(batch_id)), True).close()


def folded_record(
    spark, index_path: str, extension_ids: list[str], delete_ids: list[str]
) -> None:
    """Record batch ids a compaction/rebuild has FOLDED into the base —
    the manifest that closes the streaming replay double-count window
    (r15): a micro-batch delivered, compacted into the base, and then
    REPLAYED after a crash (checkpoint not yet committed past it) would
    otherwise re-deliver rows the base already contains; the extend paths
    treat a folded extension id as a spent no-op instead.  Kind-split
    markers (``folded/extensions/<id>`` / ``folded/deletes/<id>``) keep
    the cross-kind refusal working after compaction erased the artifact
    dirs the live cross-kind guard keys on.  Tiny touch files, written
    INSIDE the compaction's meta-less window (before meta lands), so base
    and manifest become visible together or the root fails probes
    loudly."""
    fs, _root, jvm = _fs_for(spark, index_path)
    for sub, ids in (("extensions", extension_ids), ("deletes", delete_ids)):
        if not ids:
            continue
        d = jvm.org.apache.hadoop.fs.Path(f"{index_path}/folded/{sub}")
        fs.mkdirs(d)
        for bid in ids:
            fs.create(jvm.org.apache.hadoop.fs.Path(d, str(bid)), True).close()


def folded_kind(spark, index_path: str, batch_id: str) -> str | None:
    """'extension' / 'delete' if ``batch_id`` was folded by a past
    compaction of this root, else None.  One directory-existence probe
    when the root has never compacted; two marker probes after."""
    fs, fpath, jvm = _fs_for(spark, f"{index_path}/folded")
    if not fs.exists(fpath):
        return None
    for sub in ("extensions", "deletes"):
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/folded/{sub}/{batch_id}"
            )
        ):
            return sub[:-1] if sub == "deletes" else "extension"
    return None


def folded_ids(spark, index_path: str) -> tuple[list[str], list[str]]:
    """(extension_ids, delete_ids) previously folded — carried forward
    across compactions (a delivery folded two compactions ago must stay
    spent) and copied to ``dst_index`` on write-then-swap compactions."""
    out: list[list[str]] = []
    for sub in ("extensions", "deletes"):
        fs, p, _jvm = _fs_for(spark, f"{index_path}/folded/{sub}")
        out.append(
            sorted(st.getPath().getName() for st in fs.listStatus(p))
            if fs.exists(p)
            else []
        )
    return out[0], out[1]


def folded_clear(spark, index_path: str) -> None:
    """Fresh base build: a from-source rebuild starts a new world — prior
    delivery ids are legitimately reusable against it."""
    fs, p, _jvm = _fs_for(spark, f"{index_path}/folded")
    fs.delete(p, True)


def _classify_committed(
    spark, index_path: str, committed: list[str]
) -> tuple[list[str], list[str]]:
    """Split a committed-batch list into (extensions, deletes) by the
    artifact that defines a delete: its ``tombstones/batch=`` dir (still
    present at compact time — compaction classifies BEFORE it clears)."""
    fs, _p, jvm = _fs_for(spark, index_path)
    exts, dels = [], []
    for bid in committed:
        if bid == "base":
            continue
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{index_path}/tombstones/batch={bid}")
        ):
            dels.append(bid)
        else:
            exts.append(bid)
    return exts, dels


def _fold_manifest_forward(
    spark, src_index: str, dst_index: str, committed: list[str]
) -> None:
    """The ONE compaction-side call: carry src's already-folded ids
    forward and add this compaction's committed batches, written to dst
    (== src for in-place) inside the meta-less window."""
    prior_ext, prior_del = folded_ids(spark, src_index)
    new_ext, new_del = _classify_committed(spark, src_index, committed)
    if dst_index != src_index:
        # a dst root that previously lived as an index carries an
        # UNRELATED world's spent ids — resurrecting them would silently
        # no-op legitimate future deliveries; only src's history carries
        folded_clear(spark, dst_index)
    folded_record(
        spark,
        dst_index,
        sorted(set(prior_ext) | set(new_ext)),
        sorted(set(prior_del) | set(new_del)),
    )


def _guard_spent_batch_id(spark, index_path: str, batch_id: str, this_kind: str):
    """Shared entry/delete check against the folded manifest.  Returns
    True when the caller should NO-OP (same-kind replay of a folded
    delivery — the base already contains exactly what the replay would
    re-deliver); raises on cross-kind reuse of a spent id."""
    fk = folded_kind(spark, index_path, batch_id)
    if fk is None:
        return False
    if fk == this_kind:
        import logging

        # WARNING level: a replay is the expected producer of this event,
        # but an id COLLISION (a stream restarted with a fresh checkpoint
        # re-deriving epoch ids from 0 against the same root) would be
        # silently dropped here too — the log is the operator's signal to
        # use a fresh batch_id_prefix per checkpoint (see the delivery
        # streams' parameter)
        logging.getLogger("chat_data_pipeline_spark").warning(
            "batch %s of %s was already folded by compaction; treating "
            "this %s as a replay and skipping it (if this is NEW content "
            "under a recycled id, deliver under a fresh id/prefix)",
            batch_id, index_path, this_kind,
        )
        return True
    raise ValueError(
        f"batch id {batch_id!r} already names a {fk} delivery that a "
        f"compaction of {index_path} folded into the base; {this_kind} "
        "deliveries must use a distinct id (replay idempotence is "
        "same-kind only, and folded ids stay spent)"
    )


def _committed_batches(spark, index_path: str) -> list[str]:
    """'base' plus every batch id whose delivery fully committed (ledger
    touch file written after the artifacts) — probes read ONLY these, so a
    crashed delivery's partial artifacts can never skew a result.  The
    base build needs no ledger entry: its commit marker is the meta write,
    which already lands after the base artifacts."""
    fs, path, _jvm = _ledger_fs(spark, index_path)
    out = ["base"]
    if fs.exists(path):
        out += sorted(
            st.getPath().getName()
            for st in fs.listStatus(path)
            if not st.getPath().getName().startswith("_")
        )
    return out


def committed_tree(spark, index_path: str, sub: str) -> DataFrame:
    """Load a batch-partitioned store artifact tree (``postings`` /
    ``vectors``) with its schema PINNED from the base partition instead
    of inferred over the whole tree (r17): inference samples parquet
    footers BEFORE any batch filter applies, so a crashed uncommitted
    delivery's partial files could fail (or skew) the load — and the
    probe/compaction paths that hit this are exactly what an operator
    runs right after a crash.  The base partition is complete by
    construction (its commit marker is the meta write), so its schema is
    authoritative; callers still filter to the ledger-committed batches,
    which prunes the debris partitions before any data is read.  One
    tiny footer read on the base replaces tree-wide sampling — same
    discipline as maintenance.py's explicit-schema reads."""
    from pyspark.sql.types import IntegerType, StringType

    schema = None
    try:
        # driver-side schema (r17): the base read above existed ONLY for
        # its schema, yet paid a schema-inference Spark job per call.
        # Derive the same schema from one base part file's footer plus the
        # partition dirs walked to reach it (our artifact layouts nest at
        # most bkt=<int> / band=<int> under batch=); anything unexpected
        # falls back to the inference read below, unchanged.
        import re as _re

        from chat_data_pipeline_spark.session import local_parquet_schema

        fs, _root, jvm = _fs_for(spark, index_path)
        p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/{sub}/batch=base")
        part_cols: list[str] = []
        fs.getFileStatus(p)  # missing base must fail like the old read
        for _ in range(3):
            found_file = any(
                s.isFile() and s.getPath().getName().endswith(".parquet")
                for s in fs.listStatus(p)
            )
            if found_file:
                schema = local_parquet_schema(spark, p.toUri().getPath())
                break
            sub_dirs = [
                s.getPath()
                for s in fs.listStatus(p)
                if s.isDirectory()
                and _re.match(r"^\w+=-?\d+$", s.getPath().getName())
            ]
            if not sub_dirs:
                break
            part_cols.append(sub_dirs[0].getName().split("=", 1)[0])
            p = sub_dirs[0]
        if schema is not None:
            for c in part_cols:
                schema = schema.add(c, IntegerType())
    except Exception:  # noqa: BLE001 — any surprise: inference path below
        schema = None
    if schema is None:
        base = spark.read.parquet(f"{index_path}/{sub}/batch=base")
        schema = base.schema
    if "batch" not in schema.fieldNames():
        schema = schema.add("batch", StringType())
    return spark.read.schema(schema).parquet(f"{index_path}/{sub}")


def swap_index_alias(spark, alias_path: str, index_path: str) -> None:
    """Point an alias at an index root — the probe-side half of
    write-then-swap (:func:`compact_text_index` / ``rebuild_ivf_index``
    stream into a FRESH root; this is the 'caller's pointer swap' their
    docstrings hand off to).  The alias is a DIRECTORY of monotonically
    versioned one-line pointer files: a swap stages the new pointer under
    a ``_tmp`` name and RENAMES it into place (rename is the atomic
    primitive on HDFS-like stores, and same-directory so object stores
    degrade gracefully), so a reader never sees a half-written pointer —
    it resolves either the old version or the new one.  Pruning keeps the
    IMMEDIATELY-PREVIOUS version and only deletes older history, so a
    reader that listed the directory just before the swap still opens a
    live file (the resolve side additionally retries one list-again on a
    lost race two swaps deep).

    Concurrency contract: version numbers are allocated by list-then-max
    (no FS-only primitive can serialize two racing swaps), so two
    CONCURRENT swaps may share a version and the survivor is the
    deterministic (version, zero-padded pid) name order — atomic
    visibility is guaranteed, swap ORDER is the caller's coordination
    job (one maintenance actor per alias, the same posture as the
    index builds themselves).

    Fails fast if the target has no readable ``meta`` — an alias must
    never be swapped onto a root that is mid-rebuild (meta-less window) or
    missing."""
    read_meta_row(spark, index_path)  # target must be servable
    fs, adir, jvm = _fs_for(spark, alias_path)
    fs.mkdirs(adir)
    existing = sorted(
        st.getPath().getName()
        for st in fs.listStatus(adir)
        if st.getPath().getName().startswith("v")
    )
    nxt = 1 + max((int(n[1:].split("-")[0]) for n in existing), default=0)
    vname = f"v{nxt:012d}-{os.getpid():010d}"
    tmp = jvm.org.apache.hadoop.fs.Path(adir, f"_tmp.{vname}")
    out = fs.create(tmp, True)
    out.write(bytearray(str(index_path).encode("utf-8")))
    out.close()
    if not fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(adir, vname)):
        raise IOError(f"alias swap rename failed under {alias_path}")
    # prune AFTER the new pointer is live, KEEPING the immediately-previous
    # version for in-flight readers (a crash mid-prune leaves extra
    # history, never a broken alias)
    for name in existing[:-1]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(adir, name), False)
    # also sweep CRASHED swaps' staging files (a swapper that died between
    # create and rename leaves an _tmp.v... orphan per attempt — invisible
    # to resolution but unbounded growth otherwise).  Only strictly OLDER
    # versions than the pointer just renamed are swept: a concurrent
    # swapper's live staging file carries version >= nxt, and an older
    # straggler whose tmp we delete would have LOST the (version, pid)
    # tiebreak anyway — its rename now fails loudly instead of silently
    # losing.
    for st in fs.listStatus(adir):
        name = st.getPath().getName()
        if name.startswith("_tmp.v"):
            try:
                ver = int(name[len("_tmp.v"):].split("-")[0])
            except ValueError:
                continue
            if ver < nxt:
                fs.delete(st.getPath(), False)


def resolve_index_alias(spark, alias_path: str) -> str:
    """The index root an alias currently points at: the highest-versioned
    committed pointer file (``_tmp`` stages are ignored, so a concurrent
    or crashed swap is invisible).  Probe composition:
    ``bm25_topk_indexed(spark, resolve_index_alias(spark, alias), ...)``
    — probes keep hitting the OLD root until the swap's rename lands.
    A reader that loses the prune race two swaps deep (its listed file
    was deleted before it opened) retries one fresh listing."""
    fs, adir, jvm = _fs_for(spark, alias_path)
    if not fs.exists(adir):
        raise FileNotFoundError(f"no index alias at {alias_path}")
    last_err: Exception | None = None
    for _attempt in range(2):
        names = sorted(
            st.getPath().getName()
            for st in fs.listStatus(adir)
            if st.getPath().getName().startswith("v")
        )
        if not names:
            raise FileNotFoundError(
                f"index alias {alias_path} has no committed pointer"
            )
        try:
            stream = fs.open(jvm.org.apache.hadoop.fs.Path(adir, names[-1]))
            try:
                raw = bytes(stream.readAllBytes())
            finally:
                stream.close()
            return raw.decode("utf-8")
        except Exception as exc:  # pruned between list and open: re-list once
            last_err = exc
    raise last_err


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
    bkts = sorted({_term_bucket_py(t) for t in terms})
    meta = read_meta_row(spark, index_path)
    committed = _committed_batches(spark, index_path)
    # explicit schemas (from meta): zero footer sampling — the pruned read
    # lists only the probed bkt dirs of COMMITTED batches and opens nothing
    # else (batch and bkt are both partition columns: two literal INs at
    # the listing)
    p_schema = f"doc {meta.id_type}, dl int, term string, tf long"
    postings = (
        spark.read.schema(p_schema).parquet(f"{index_path}/postings")
        .filter(F.col("batch").isin(committed))
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("term").isin(terms))
        .select(F.col("doc").alias(id_col), "dl", "term", "tf")
    )
    tomb = _tombstoned_ids(spark, index_path, meta.id_type, committed)
    if tomb is not None:
        # tombstoned docs stay physical until compaction; the anti-join
        # hides them, while their negative dfreq/stats deliveries subtract
        # through the cross-batch sums below
        postings = postings.join(
            tomb.withColumnRenamed("doc", id_col), id_col, "left_anti"
        )
    dfreq = (
        spark.read.schema("term string, df long")
        .parquet(f"{index_path}/dfreq")
        .filter(F.col("batch").isin(committed))
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    stats = (
        spark.read.schema("n_docs long, sum_dl long")
        .parquet(f"{index_path}/stats")
        .filter(F.col("batch").isin(committed))
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
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__nano__", F.round(contrib * 1e9).cast("long"))
    )
    out = (
        scored.groupBy(id_col)
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
    bkts = sorted({_term_bucket_py(t) for t in terms})
    from chat_data_pipeline_spark.session import values_df

    qt = values_df(
        spark,
        [(qid, t) for qid, ts in qterms for t in ts],
        f"{query_id_col} {dict(queries.dtypes)[query_id_col]}, term string",
    )
    meta = read_meta_row(spark, index_path)
    committed = _committed_batches(spark, index_path)
    p_schema = f"doc {meta.id_type}, dl int, term string, tf long"
    postings = (
        spark.read.schema(p_schema).parquet(f"{index_path}/postings")
        .filter(F.col("batch").isin(committed))
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("term").isin(terms))
        .select(F.col("doc").alias(id_col), "dl", "term", "tf")
    )
    tomb = _tombstoned_ids(spark, index_path, meta.id_type, committed)
    if tomb is not None:
        postings = postings.join(
            tomb.withColumnRenamed("doc", id_col), id_col, "left_anti"
        )
    dfreq = (
        spark.read.schema("term string, df long")
        .parquet(f"{index_path}/dfreq")
        .filter(F.col("batch").isin(committed))
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    stats = (
        spark.read.schema("n_docs long, sum_dl long")
        .parquet(f"{index_path}/stats")
        .filter(F.col("batch").isin(committed))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("__sum_dl__"),
        )
        .select(
            "n_docs",
            (F.col("__sum_dl__").cast("double") / F.col("n_docs").cast("double")).alias(
                "avgdl"
            ),
        )
    )
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
    per_term = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__nano__", F.round(contrib * 1e9).cast("long"))
        .select(id_col, "term", "__nano__")
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
    meta = read_meta_row(spark, index_path)
    committed = _committed_batches(spark, index_path)

    def _per_batch(sub: str, schema: str, aggs: list, names: list[str]) -> DataFrame:
        fs, path, _jvm = _fs_for(spark, f"{index_path}/{sub}")
        if not fs.exists(path):
            from chat_data_pipeline_spark.session import values_df

            return values_df(
                spark, [], "batch string, " + ", ".join(f"{n} long" for n in names)
            )
        return (
            spark.read.schema(schema)
            .parquet(f"{index_path}/{sub}")
            .filter(F.col("batch").isin(committed))
            .groupBy(F.col("batch").cast("string").alias("batch"))
            .agg(*[a.cast("long").alias(n) for a, n in zip(aggs, names)])
        )

    stats = _per_batch(
        "stats",
        "n_docs long, sum_dl long",
        [F.sum("n_docs"), F.sum("sum_dl")],
        ["n_docs", "sum_dl"],
    )
    dfreq = _per_batch(
        "dfreq",
        "term string, df long",
        [F.count("*"), F.sum("df")],
        ["n_terms", "sum_df"],
    )
    postings = _per_batch(
        "postings",
        f"doc {meta.id_type}, dl int, term string, tf long",
        [F.count("*")],
        ["n_postings"],
    )
    tombs = _per_batch(
        "tombstones", f"doc {meta.id_type}", [F.count("*")], ["n_tombstones"]
    )
    # REVERTED to the join assembly (r18): the r17 zero-padded-union form
    # ("one exchange") was kept on an at-scale shape argument with no
    # measurement; the r18 batch-count instrument (16-delivery store,
    # interleaved best-of-4) measured the union ~20% SLOWER (0.73-0.78 s
    # joins vs 0.91-0.92 s union) — the full-outer joins REUSE the
    # per-artifact aggregates' batch-hash partitioning (guide §2.4
    # exchange sharing), while the union discards it and pays a fresh
    # exchange + a second aggregation over 4×batches rows.  Rows
    # identical either way (each column is owned by exactly one source).
    out = stats
    for other in (dfreq, postings, tombs):
        out = out.join(other, "batch", "full_outer")
    fill = {c: 0 for c in ("n_docs", "sum_dl", "n_terms", "sum_df",
                           "n_postings", "n_tombstones")}
    return out.fillna(fill).orderBy("batch")
