"""Persisted MinHash-LSH signature store (r14): build-once corpus-onboarding
dedup with the shared index lifecycle — ledger, tombstones, compaction,
crash posture.  Differential strategy: every probe against the store must be
bit-identical to the self-contained cross-corpus filter over the union of
live reference batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import dedup as D
from chat_data_pipeline_spark.operators import dedup_store as DS
from chat_data_pipeline_spark.operators import store as ST

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    # a shingle-less short doc on each side exercises the sentinel guard
    extra = spark.createDataFrame(
        [(90_001, "too short"), (90_002, "also tiny")], "doc_id long, text string"
    )
    return base.unionByName(extra).localCheckpoint(eager=True)


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_store_probe_matches_self_contained_md5(spark, docs, tmp_path):
    """build + extend, then probe: identical survivors to the one-shot md5
    cross-corpus filter over the union of the two reference deliveries."""
    ref_a = docs.filter(F.col("doc_id") % 3 == 0)
    ref_b = docs.filter(F.col("doc_id") % 3 == 1)
    new = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "store_md5")
    DS.build_dedup_index(ref_a, idx, family="md5")
    DS.extend_dedup_index(ref_b, idx, batch_id="b1")
    got = _ids(DS.filter_against_dedup_index(spark, idx, new))
    want = _ids(
        D.cross_corpus_minhash_filter_md5(new, ref_a.unionByName(ref_b), "text", "doc_id")
    )
    assert got == want and 0 < len(got) < new.count()


def test_store_probe_matches_self_contained_sha1(spark, docs, tmp_path):
    """The production sha1 family round-trips its binary band signatures
    through parquet and keeps the shingle-less sentinel exclusion: short
    new docs always survive even with short reference docs in the store."""
    ref = docs.filter((F.col("doc_id") % 3 == 0) | (F.col("doc_id") == 90_001))
    new = docs.filter((F.col("doc_id") % 3 == 2) | (F.col("doc_id") == 90_002))
    idx = str(tmp_path / "store_sha1")
    DS.build_dedup_index(ref, idx, family="sha1", num_perm=64, threshold=0.7)
    got = _ids(DS.filter_against_dedup_index(spark, idx, new))
    want = _ids(
        D.cross_corpus_minhash_filter(new, ref, "text", "doc_id", num_perm=64)
    )
    assert got == want
    assert 90_002 in got  # the sentinel guard held through persistence


def test_store_crash_and_delete_lifecycle(spark, docs, tmp_path):
    """Uncommitted deliveries/deletes are invisible; a deleted reference doc
    stops subtracting near-dups; compaction makes the delete physical and
    re-delivery becomes legal."""
    ref_a = docs.filter(F.col("doc_id") % 3 == 0)
    ref_b = docs.filter(F.col("doc_id") % 3 == 1)
    new = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "store_life")
    DS.build_dedup_index(ref_a, idx, family="md5")
    base_out = _ids(DS.filter_against_dedup_index(spark, idx, new))

    # crash-sim: extension without its ledger marker is invisible
    DS.extend_dedup_index(ref_b, idx, batch_id="b1")
    both_out = _ids(DS.filter_against_dedup_index(spark, idx, new))
    os.remove(f"{idx}/batches/b1")
    assert _ids(DS.filter_against_dedup_index(spark, idx, new)) == base_out
    DS.extend_dedup_index(ref_b, idx, batch_id="b1")  # replay re-commits
    assert _ids(DS.filter_against_dedup_index(spark, idx, new)) == both_out

    # delete half the b1 delivery: probes equal the filter vs retained refs
    victims = ref_b.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    ST.tombstone_delete(spark, idx, victims, batch_id="take-1")
    retained = ref_a.unionByName(ref_b.filter(F.col("doc_id") % 2 == 1))
    got = _ids(DS.filter_against_dedup_index(spark, idx, new))
    want = _ids(D.cross_corpus_minhash_filter_md5(new, retained, "text", "doc_id"))
    assert got == want

    # tombstoned ids refuse re-delivery until compaction
    with pytest.raises(ValueError, match="tombstoned"):
        DS.extend_dedup_index(ref_b, idx, batch_id="b2")
    DS.compact_dedup_index(spark, idx)
    assert not os.path.exists(f"{idx}/tombstones")
    assert _ids(DS.filter_against_dedup_index(spark, idx, new)) == want
    assert ST.committed_batches(spark, idx) == ["base"]
    left = {
        r.id
        for r in spark.read.parquet(f"{idx}/bands").select("id").distinct().collect()
    }
    assert not {r.doc_id for r in victims.collect()} & left
    DS.extend_dedup_index(ref_b, idx, batch_id="b2")  # legal again
    assert _ids(DS.filter_against_dedup_index(spark, idx, new)) == both_out


def test_store_compact_dst_and_idempotent_build(spark, docs, tmp_path):
    """Write-then-swap compaction matches in-place; a rebuilt base clears
    stale extensions (overwrite idempotence through the root)."""
    ref_a = docs.filter(F.col("doc_id") % 3 == 0)
    ref_b = docs.filter(F.col("doc_id") % 3 == 1)
    new = docs.filter(F.col("doc_id") % 3 == 2)
    idx = str(tmp_path / "store_c")
    DS.build_dedup_index(ref_a, idx, family="md5")
    DS.extend_dedup_index(ref_b, idx, batch_id="b1")
    want = _ids(DS.filter_against_dedup_index(spark, idx, new))
    dst = str(tmp_path / "store_c_v2")
    DS.compact_dedup_index(spark, idx, dst_index=dst)
    assert _ids(DS.filter_against_dedup_index(spark, dst, new)) == want
    # rebuild over ref_a only: the stale b1 extension must not survive
    DS.build_dedup_index(ref_a, idx, family="md5")
    got = _ids(DS.filter_against_dedup_index(spark, idx, new))
    assert got == _ids(
        D.cross_corpus_minhash_filter_md5(new, ref_a, "text", "doc_id")
    )


def test_dedup_store_health_reports_the_lifecycle(spark, docs, tmp_path):
    """Per-delivery footprints: positive for build/extends, (0, 0, k) for a
    takedown, shingle-less docs carrying no rows; compaction collapses to
    one clean base row with the live totals."""
    idx = str(tmp_path / "health_store")
    ref_a = docs.filter((F.col("doc_id") % 3 == 0) | (F.col("doc_id") == 90_001))
    ref_b = docs.filter(F.col("doc_id") % 3 == 1)
    DS.build_dedup_index(ref_a, idx, family="md5")
    DS.extend_dedup_index(ref_b, idx, batch_id="b1")
    victims = ref_b.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    ST.tombstone_delete(spark, idx, victims, batch_id="take")
    rows = {r.batch: r for r in DS.dedup_store_health(spark, idx).collect()}
    assert set(rows) == {"base", "b1", "take"}

    def eligible(df):
        # shingle-less docs (< 5 tokens, like the synthetic 90_001/90_002)
        # are in the delivery but carry no posting rows
        return df.filter(
            F.size(F.split(F.lower("text"), r"[^\w]+")) >= 5
        ).count()

    assert rows["base"].n_ids == eligible(ref_a) < ref_a.count()
    assert rows["base"].n_rows == 4 * rows["base"].n_ids
    assert rows["b1"].n_ids == eligible(ref_b)
    assert rows["take"].n_rows == 0 and rows["take"].n_ids == 0
    assert rows["take"].n_tombstones == victims.count()
    DS.compact_dedup_index(spark, idx)
    after = DS.dedup_store_health(spark, idx).collect()
    assert len(after) == 1 and after[0].batch == "base"
    assert after[0].n_tombstones == 0
    assert after[0].n_ids == rows["base"].n_ids + rows["b1"].n_ids - victims.count()


def test_extend_dedup_index_refuses_wrong_id_type(spark, docs, tmp_path):
    """r14 ADVICE: the signature store shares the refuse-at-delivery id-type
    posture of the other stores' guards."""
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    idx = str(tmp_path / "idtype_store")
    DS.build_dedup_index(ref, idx, family="md5")
    bad = docs.filter(F.col("doc_id") % 3 == 1).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    with pytest.raises(ValueError, match="id type"):
        DS.extend_dedup_index(bad, idx, batch_id="b1")
    assert ST.committed_batches(spark, idx) == ["base"]
