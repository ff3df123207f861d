"""Persisted MinHash-LSH signature store — incremental corpus-onboarding
dedup without re-fingerprinting the curated corpus.

The reference pipeline deduplicates within one in-memory run
(ref:minhash_deduplication.py:264-280); its cross-corpus analogue here
(:func:`dedup.cross_corpus_minhash_filter`) still re-computes the REFERENCE
side's shingles + signatures on every onboarding run — at 100 TB that
re-pays the full fingerprint pass of the curated corpus each time a fresh
crawl arrives.  This store persists the exploded ``(id, band, sig)``
postings once and lets every onboarding run probe them, giving the dedup
family the same build-once / serve-many lifecycle the BM25 and IVF indexes
already have — including the ledger, tombstones, compaction and crash
posture, which are shared code (operators/store.py).

Layout::

    <root>/bands/batch=<id>/band=<b>/   (id, sig) posting rows
    <root>/meta/                        fingerprint params + column types
    <root>/batches/                     commit-ledger touch files
    <root>/tombstones/batch=<id>/       deleted ref ids (probe anti-join)

Exactness: probes against the store are BIT-IDENTICAL to the self-contained
cross-corpus filter over the union of delivered reference batches (tested
for both fingerprint families) because the store holds the exact band
signatures that filter computes — the meta pins every parameter (family,
shingle size, permutations, banding, seed), so a probe reconstructs the
identical fingerprint arithmetic for the NEW side.

Scale shape: one fingerprint pass per delivery (the thing this store
exists to avoid repeating), band-clustered salted writes (file count
O(bands × salt), write tasks scale with the salt), and a probe that is one
fingerprint pass over the NEW corpus + one (band, sig) semi-join — the
reference side ships signatures, never raw text.  There is no content
pruning at the listing (a probe must compare against every band by
definition); the partition-by-band layout keeps the semi-join's store-side
scan balanced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import dedup as D
from chat_data_pipeline_spark.operators import store as ST

SEED = 42
DEDUP_META = (
    "family string, ngram_size int, num_perm int, num_bands int, "
    "threshold double, min_ngram_size int, seed int, "
    "id_type string, sig_type string, text_col string, id_col string"
)


def _params_from_meta(meta) -> dict:
    return {
        "family": meta.family,
        "ngram_size": int(meta.ngram_size),
        "num_perm": int(meta.num_perm),
        "num_bands": int(meta.num_bands),
        "threshold": float(meta.threshold),
        "min_ngram_size": int(meta.min_ngram_size),
        "seed": int(meta.seed),
    }


def _bands_for(df: DataFrame, column: str, id_col: str, m: dict) -> DataFrame:
    """(id, band, sig) postings under the store's pinned fingerprint family
    — the same cross-corpus builders :func:`dedup.cross_corpus_minhash_filter`
    and its md5 twin use, sentinel exclusion included."""
    if m["family"] == "md5":
        return D.cross_corpus_bands_md5(
            df, column, id_col, m["ngram_size"], m["num_perm"], m["num_bands"]
        )
    if m["family"] != "sha1":
        raise ValueError(f"family must be 'md5' or 'sha1', got {m['family']!r}")
    return D.cross_corpus_bands_sha1(
        df, column, id_col, m["ngram_size"], m["num_perm"], m["threshold"],
        m["min_ngram_size"], m["seed"],
    )


def _commit_dedup_base(
    spark, index_path: str, bands: DataFrame, meta_row: tuple, fold=None
) -> None:
    """The base's band postings under :func:`store.commit_base`."""
    ST.commit_base(
        spark, index_path,
        lambda: ST.write_batch(index_path, "base", {"bands": (bands, "band", "sig")}),
        DEDUP_META, meta_row, fold=fold,
    )


def build_dedup_index(
    df: DataFrame,
    index_path: str,
    column: str = "text",
    id_col: str = "doc_id",
    family: str = "md5",
    ngram_size: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.7,
    min_ngram_size: int = 5,
    seed: int = SEED,
) -> None:
    """Fingerprint the reference corpus ONCE and persist its band postings.

    ``family='md5'`` uses the cross-engine md5 fingerprint family (every
    step DuckDB-expressible — the registered onboarding row value-hashes
    the full build→extend→delete→probe lifecycle); ``family='sha1'`` uses
    the production sha1/seeded-permutation family with datasketch-optimal
    (B, R) banding, so "near-duplicate" means exactly what the in-corpus
    :func:`dedup.minhash_dedup` means.  Idempotent overwrite, same crash
    posture as the other four persisted stores."""
    spark = df.sparkSession
    m = {
        "family": family,
        "ngram_size": int(ngram_size),
        "num_perm": int(num_perm),
        "num_bands": int(num_bands),
        "threshold": float(threshold),
        "min_ngram_size": int(min_ngram_size),
        "seed": int(seed),
    }
    bands = _bands_for(df.select(id_col, column), column, id_col, m)
    id_type = dict(df.dtypes)[id_col]
    sig_type = "string" if family == "md5" else "binary"
    _commit_dedup_base(
        spark,
        index_path,
        bands,
        (
            family, m["ngram_size"], m["num_perm"], m["num_bands"],
            m["threshold"], m["min_ngram_size"], m["seed"],
            id_type, sig_type, column, id_col,
        ),
    )


def extend_dedup_index(
    df: DataFrame,
    index_path: str,
    batch_id: int | str,
    column: str | None = None,
    id_col: str | None = None,
) -> None:
    """Deliver one curated batch's signatures into the store — the
    onboarding loop's write-back step: a crawl that SURVIVED the probe
    joins the reference side for the next crawl, fingerprinted once, here.
    Fingerprint params always come from meta (every delivery uses the
    exact arithmetic the base was built with); ``column``/``id_col``
    override the meta COLUMN NAMES when the delivered frame uses its own
    (config-driven callers pass theirs instead of pre-reading meta — one
    meta read per delivery, not two).  Replay overwrites its own
    partition and re-commits; a delivery containing a tombstoned id is
    refused until compaction (same contract as the other indexes)."""
    opened = ST.open_extension(df, index_path, batch_id, id_col)
    if opened is None:
        return  # folded replay: the base already holds this delivery
    batch_id, meta, df, id_col = opened
    column = column or meta.text_col
    bands = _bands_for(
        df.select(id_col, column), column, id_col, _params_from_meta(meta)
    )
    ST.write_batch(index_path, batch_id, {"bands": (bands, "band", "sig")})


def filter_against_dedup_index(
    spark,
    index_path: str,
    new_df: DataFrame,
    column: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Onboard a fresh corpus: drop NEW documents whose band signatures
    collide with ANY live reference signature in the store.  One
    fingerprint pass over the NEW side (the store side never re-computes —
    the point of persisting), one distinct over the store keys, one
    (band, sig) semi-join, one anti-join back — bit-identical to
    :func:`dedup.cross_corpus_minhash_filter` / ``_md5`` over the union of
    live reference batches (tested) — it runs that filter's own
    downstream over the stored reference postings."""
    meta = ST.read_meta_row(spark, index_path)
    column = column or meta.text_col
    id_col = id_col or meta.id_col
    ref = ST.live_rows(
        spark, index_path, "bands", ST.committed_batches(spark, index_path),
        f"id {meta.id_type}, sig {meta.sig_type}", "id",
    )
    nb = _bands_for(
        new_df.select(id_col, column), column, id_col, _params_from_meta(meta)
    )
    return D._cross_corpus_filter_from_bands(new_df, nb, ref, id_col)


def compact_dedup_index(spark, index_path: str, dst_index: str | None = None) -> None:
    """Fold base + committed deliveries into one fresh base, dropping
    tombstoned ids physically and clearing the tombstone set — probes
    BIT-IDENTICAL (the store is a plain posting set; compaction changes
    layout, not content).  ``dst_index=None`` compacts in place (eager
    checkpoint pins the postings before the overwrite); a 100 TB
    deployment passes ``dst_index`` and swaps probes over
    (``store.swap_index_alias`` works here too — resolution only needs
    the root's meta)."""
    meta = ST.read_meta_row(spark, index_path)
    # ONE ledger snapshot for the read AND the folded manifest (r15 review):
    # a delivery committing between two listings would otherwise be folded
    # into the rewritten base without being marked spent
    committed = ST.committed_batches(spark, index_path)
    bands = ST.live_rows(
        spark, index_path, "bands", committed,
        f"id {meta.id_type}, sig {meta.sig_type}", "id",
    ).select("id", "sig", "band")
    if dst_index is None:
        bands = bands.localCheckpoint(eager=True)
        dst_index = index_path
    # the meta carries forward unchanged; the spent-id manifest lands
    # BEFORE the rewrite (see store.commit_base)
    _commit_dedup_base(
        spark, dst_index, bands, tuple(meta), fold=(index_path, committed)
    )


def dedup_store_health(spark, index_path: str) -> DataFrame:
    """Per-delivery health report for the signature store — completing the
    observability trilogy (``retrieval.text_index_health``,
    ``similarity.ivf_index_drift_report``): one row per ledger-committed
    batch from the store's OWN artifacts, no corpus access.

    Columns: ``(batch, n_rows, n_ids, n_tombstones)`` — posting rows,
    distinct reference docs, and takedown ids per delivery.  A delete
    delivery reads as (0, 0, k).  Signals: ``n_rows / n_ids`` far from the
    banding width means shingle-less docs dominate a delivery (they carry
    no rows and can never subtract near-dups); a large tombstone count →
    compact, every probe pays the anti-join until then.

    Scale shape: one map-side-combined count agg over the postings plus an
    id-sized tombstone count; O(batches) output rows."""
    meta = ST.read_meta_row(spark, index_path)
    committed = ST.committed_batches(spark, index_path)
    bands = ST.per_batch_counts(
        spark, index_path, "bands", committed,
        f"id {meta.id_type}, sig {meta.sig_type}",
        n_rows=F.count("*"), n_ids=F.countDistinct("id"),
    )
    return ST.batch_health(spark, index_path, committed, meta.id_type, bands)
